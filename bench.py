"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Per BASELINE.md the tracked metrics are: table registration + schema infer,
TPC-H-q1-style aggregation, convert throughput, compare throughput — plus a
representative spread of the §2 operator inventory (joins, windows, dedup,
similarity) so a regression anywhere shows up in the round-over-round numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bdt_spark.session import get_spark  # noqa: E402
from bdt_spark.sources.io import load_fixture_tables  # noqa: E402
import bdt_spark.plans as plans  # noqa: E402

# The headline spread: bdt-native paths + one query per operator family.
HEADLINE = [
    "tpch_q1_pricing_summary",   # the reference's flagship (README.md:119-135)
    "tpch_q3_shipping_priority", # join + topk
    "tpch_q5_local_supplier_volume",  # 6-table join
    "tpch_q9_product_profit",    # wide join + agg
    "tpch_q13_customer_distribution",  # left join + double agg
    "tpch_q18_large_volume",     # in-subquery + having
    "tpch_q21_waiting_supplier", # exists + not-exists
    "window_running_frames",     # window frames
    "agg_rollup",                # grouping analytics
    "agg_distinct_counts",       # multi-distinct (Expand-free rewrite)
    "setop_except",              # set ops
]
# Pipeline operators benched when present (added as plans/pipeline.py grows).
PIPELINE = [
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "text_quality_scores",
    "pipeline_curation_end_to_end",
    "multimodal_decode_features",
    "events_session_window",
    "events_asof_join",
    # round-2 additions
    "tokens_sequence_packing",
    "text_benchmark_decontamination",
    "text_pii_redaction",
    "sample_stratified_exact",
    "embedding_normalize_centroid",
    "query_recursive_cte",
    # round-5 additions
    "tokens_packing_efficiency",
    # round-6 additions
    "multimodal_decode_bmp",
    # round-7 additions
    "dedup_minhash_lsh_k64",
    "multimodal_decode_png",
    "dedup_embedding_cosine",
    # round-9 additions
    "multimodal_decode_jpeg",
    "multimodal_decode_wav",
    "dedup_incremental_snapshot",
    "text_idf_rarity_score",
    "text_tfidf_topk_similar",
    "text_naive_bayes_langid",
    "text_inverted_index",
    "agg_frequent_items_mergeable",
    "embedding_quantize_int8",
    "join_bloom_filter_pruning",
    "multimodal_dedup_phash",
    "text_pmi_cooccurrence",
    "orders_scd2_asof_lookup",
    "text_winnowing_fingerprints",
    "tokens_bpe_merge_candidates",
    "dedup_prefix_filter_jaccard",
    # round-12: format-reader round-trips (convert -> infer -> read -> agg)
    "scan_csv_roundtrip",
    "scan_ndjson_roundtrip",
    "scan_avro_roundtrip",
    # round-10: globalorder rewrites (track the distributed-prefix plans)
    "features_quantile_binning",
    "customer_rfm_segmentation",
    "lineitem_pareto_abc",
    "quality_split_drift_ks",
    "text_feature_auc_mann_whitney",
    # round-14: incremental ingest family (state probe plans) + chunking
    "dedup_incremental_minhash",
    "dedup_incremental_embedding",
    "tokens_doc_chunking",
    # round-16: the two TPC-H arms restructured by the q18-pattern
    # rewrites enter the tracked set so the driver's own numbers pin
    # them round-over-round (ADD-only per the bench contract; existing
    # entries untouched). The six other scan-collapse queries
    # (market_basket, delete_propagation, constraint_report,
    # anomaly_zscore, language_temperature, hll_merge) are deliberately
    # NOT added: at 70 tracked queries the `queries` map alone outgrows
    # the driver's ~2000-byte stdout tail capture (the guard test
    # below), which would cost EVERY query its round-over-round
    # comparison — they stay pinned by the committed sidecars and the
    # oracle sweep instead.
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity",
]

# FROZEN cross-round comparison set (VERDICT r10 #1): exactly the 23
# metrics of BENCH_r01.json. The full headline total grows whenever a
# round adds tracked queries, so round-over-round totals are not
# like-for-like; `stable_set_total` sums only these 23 and is the number
# to diff across rounds. NEVER add to or remove from this list —
# tests/test_queries.py pins it by content hash.
STABLE_SET = [
    "register_infer",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "window_running_frames",
    "agg_rollup",
    "setop_except",
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "text_quality_scores",
    "pipeline_curation_end_to_end",
    "multimodal_decode_features",
    "events_session_window",
    "events_asof_join",
    "convert_parquet_csv",
    "compare_parquet",
]

# sf10 driver-protocol point (VERDICT r15 #2): the sf0.1 suite is
# fixed-overhead-bound (~0.8 s/query of per-job overhead; 30/62 core-
# scaling ratios <=1.05), so real plan wins are invisible in the
# headline. These are the queries whose sf10 Spark-only wall is >=5 s —
# big enough that a plan regression/improvement moves the number past
# host noise. Runs only when the sf10 dir exists (generated once via
# tools/gen_scale.py, like the sf1 block); medians land in
# `sf10_queries`/`sf10_total` (shed from the stdout line first if the
# driver capture budget is tight — the committed sidecar keeps them).
SF10_SUBSET = [
    "customer_rfm_segmentation",
    "dedup_embedding_cosine",
    "dedup_incremental_minhash",
    "dedup_incremental_embedding",
    "dedup_minhash_lsh_k64",
    "text_winnowing_fingerprints",
    "text_tfidf_topk_similar",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
]

# Measurable-regression subset re-run at sf1 when the scaled dir exists
# (VERDICT r6 #8: at sf0.1 most queries are sub-second and host noise
# dominates round-over-round deltas; the sf1 numbers are the trackable
# ones). Kept small so the per-round bench stays a few minutes.
# r10 (VERDICT r9 #5): extended with the top of the sf0.1 cost ranking so
# every one of the 10 most expensive queries has a 10x growth-curve point
# (the round-9 text algorithms previously had only sf0.1 + sf10 singles).
SF1_SUBSET = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume",
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "similarity_topk_ivf",
    "text_quality_scores",
    "events_asof_join",
    "text_winnowing_fingerprints",
    "dedup_prefix_filter_jaccard",
    "dedup_minhash_lsh_k64",
    "text_tfidf_topk_similar",
    "text_pmi_cooccurrence",
    "text_naive_bayes_langid",
    "agg_frequent_items_mergeable",
    "tpch_q3_shipping_priority",
    "tpch_q21_waiting_supplier",
]


def run_query(spark, name: str, sf_dir: str) -> float:
    from bdt_spark.operators.cacheutil import release

    spec = plans.get_query(name)
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    n = df.count()  # force full execution without driver materialization
    dt = time.perf_counter() - t0
    assert n >= 0
    # repeated reps must each pay the full cost: drop any operator-owned
    # caches so run 2 cannot read run 1's persisted blocks
    release(df)
    return dt


from statistics import median  # noqa: E402


FAST_QUERY_SEC = 0.5
FAST_QUERY_REPS = 5

# SPARK_GRAFT_BENCH_WARMUP=1: one UNTIMED execution per metric before the
# timed reps (VERDICT r11 #2). The scale-point protocol (sf10 runs with
# REPS=1-2 to bound wall time): the first execution of a big plan pays
# JIT/codegen + first-touch page cache — 2-3x the steady-state number
# (e.g. pmi 37.9 s first-run vs 14.9 s; SCALE.md r11) — so with few reps
# the recorded run-array otherwise mixes the two regimes and a
# median-of-2 cannot reject the outlier. The warm-up cost is recorded in
# the sidecar's `warmups` map; the `runs` arrays carry steady-state only.
WARMUPS: dict[str, float] = {}


def timed_reps(fn, reps: int, name: str | None = None) -> tuple[float, list[float]]:
    """Median-of-N timing (VERDICT r8 #6): a single contended-host run
    can no longer cost a round of certification — the median absorbs
    one-off noise, and the JSON carries the raw runs + loadavg so a
    contended round is diagnosable after the fact.

    Sub-half-second queries get extra reps (VERDICT r10 #2): at that
    scale host noise is the same order as the measurement, and the r10
    "regressions" (1.2-1.3x on 0.2-0.4 s queries) were unresolvable from
    3 runs. If the first median lands under FAST_QUERY_SEC, top up to
    FAST_QUERY_REPS runs and re-take the median."""
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP") == "1":
        t0 = time.perf_counter()
        fn()
        WARMUPS[name or f"metric_{len(WARMUPS)}"] = round(
            time.perf_counter() - t0, 3
        )
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        runs.append(round(time.perf_counter() - t0, 3))
    if median(runs) < FAST_QUERY_SEC and len(runs) < FAST_QUERY_REPS:
        for _ in range(FAST_QUERY_REPS - len(runs)):
            t0 = time.perf_counter()
            fn()
            runs.append(round(time.perf_counter() - t0, 3))
    return round(median(runs), 3), runs


def _prev_round_common(timings: dict[str, float]) -> dict | None:
    """Self-interpreting round-over-round delta (VERDICT r14 #7): the
    headline set grows as new queries enter the tracked list, so
    `value` is not like-for-like across rounds. Alongside the frozen
    23-metric stable set, emit the sum over the queries COMMON to this
    run and the newest committed BENCH_r{N}.json — both sides of the
    comparison in one line, so the driver's number explains itself
    without anyone re-deriving the intersection by hand."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    cands = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not cands:
        return None
    latest = cands[-1]  # zero-padded rNN: lexicographic == numeric
    try:
        with open(latest) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    # The driver wraps our stdout line: {"parsed": {...}} when the full
    # line fit its capture, else a front-TRUNCATED "tail" string —
    # brace-match the headline queries map out of it (the negative
    # lookbehind skips "sf1_queries", which could be the first match if
    # the truncation ate the headline map's key).
    pq = (prev.get("parsed") or {}).get("queries")
    if not pq:
        tail = prev.get("tail") or ""
        m0 = re.search(r'(?<!sf1_)"queries":\{', tail)
        pq = None
        if m0:
            j = tail.index("{", m0.start())
            depth = 0
            for k in range(j, len(tail)):
                if tail[k] == "{":
                    depth += 1
                elif tail[k] == "}":
                    depth -= 1
                    if depth == 0:
                        try:
                            pq = json.loads(tail[j : k + 1])
                        except ValueError:
                            pass
                        break
    pq = pq or {}
    common = [q for q, v in timings.items() if v > 0 and pq.get(q, -1) > 0]
    if not common:
        return None
    m = re.search(r"BENCH_(r\d+)", latest)
    return {
        "common_set_round": m.group(1) if m else "?",
        "common_set_n": len(common),
        "common_set_total": round(sum(timings[q] for q in common), 3),
        "common_set_total_prev": round(sum(pq[q] for q in common), 3),
    }


def render_line(out: dict, budget: int = 1900) -> str:
    """Render the driver-facing JSON line under two defenses against the
    driver's ~2000-byte tail-only stdout capture (VERDICT r15 #5:
    BENCH_r14 arrived front-truncated past parseability and cost the
    round its comparison).

    1. SHED to fit `budget`: drop the scaled-point per-query maps (the
       committed sidecar keeps them), then headline float precision.
    2. ORDER for tail survival: the headline `queries` map and the
       fields after it (`sf`, `reps`, `protocol`) are rendered LAST, so
       even when the line cannot fit the capture (62+ queries is
       ~1.6 KB of names alone) the captured tail still contains the
       complete map — exactly what the brace-matching recovery in
       _prev_round_common (and the r14 judge) reads back. The tail
       invariant `line[index("queries"):]` <= budget is asserted by
       test at 75 queries.

    Works on a copy: `out` is left unchanged. Returns the line to print."""
    tail_keys = ("queries", "sf", "reps", "protocol")
    ordered = {k: v for k, v in out.items() if k not in tail_keys}
    ordered.update({k: out[k] for k in tail_keys if k in out})
    line = json.dumps(ordered, separators=(",", ":"))
    for k in ("sf1_queries", "sf10_queries"):
        if len(line) <= budget:
            break
        ordered.pop(k, None)
        line = json.dumps(ordered, separators=(",", ":"))
    if len(line) > budget and "queries" in ordered:
        ordered["queries"] = {
            k: round(v, 2) for k, v in ordered["queries"].items()
        }
        line = json.dumps(ordered, separators=(",", ":"))
    if len(line) > budget:
        # last lossless shave: reps/protocol are per-round constants the
        # sidecar keeps; `sf` stays (driver-required). At 62 queries this
        # is what brings the tail section under the capture; past ~63
        # queries the names alone outgrow it — the map is still rendered
        # last so a truncated capture loses head fields first.
        for k in ("protocol", "reps"):
            ordered.pop(k, None)
        line = json.dumps(ordered, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("bdt_spark_bench")

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}

    # Warmup: JVM codegen + Python-UDF worker pool startup are one-time
    # session costs (~2-4 s), not per-query work — at 100 TB they are
    # amortized over hours. Pay them before the first timed metric so the
    # numbers measure steady-state throughput.
    spark.range(1000).selectExpr("sum(id)").collect()
    import pandas as _pd  # noqa: F401

    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # register + schema-infer (BASELINE.md metric #1)
    def _register():
        tables = load_fixture_tables(spark, sf_dir, force=True)
        for df in tables.values():
            _ = df.schema

    timings["register_infer"], all_runs["register_infer"] = timed_reps(
        _register, reps, name="register_infer"
    )

    def _gc():
        # reclaim accumulated broadcast/shuffle blocks between queries:
        # ContextCleaner frees them only on JVM GC, and letting them pile
        # up until an arbitrary collection mid-query showed up as
        # multi-second one-off spikes in otherwise-stable timings
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    all_names = set(plans.all_queries())
    for name in HEADLINE + [q for q in PIPELINE if q in all_names]:
        try:
            timings[name], all_runs[name] = timed_reps(
                lambda: run_query(spark, name, sf_dir), reps, name=name
            )
        except Exception as e:  # a broken query must not kill the bench
            print(f"bench error {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
        _gc()

    # convert throughput (BASELINE.md metric #3): parquet -> csv
    try:
        from bdt_spark.operators.convert import convert

        tmp = tempfile.mkdtemp(prefix="bdt_bench_")
        timings["convert_parquet_csv"], all_runs["convert_parquet_csv"] = (
            timed_reps(
                lambda: convert(
                    spark, os.path.join(sf_dir, "orders.parquet"),
                    os.path.join(tmp, "orders.csv"), single_file=True,
                ),
                reps,
                name="convert_parquet_csv",
            )
        )
        shutil.rmtree(tmp, ignore_errors=True)
    except Exception as e:
        print(f"bench error convert: {e}", file=sys.stderr)

    # compare throughput (BASELINE.md metric #4): parquet vs itself
    try:
        from bdt_spark.operators.compare import compare_files

        def _compare():
            res = compare_files(
                spark, os.path.join(sf_dir, "lineitem.parquet"),
                os.path.join(sf_dir, "lineitem.parquet"),
            )
            assert res.ok

        timings["compare_parquet"], all_runs["compare_parquet"] = timed_reps(
            _compare, reps, name="compare_parquet"
        )
    except Exception as e:
        print(f"bench error compare: {e}", file=sys.stderr)

    total = round(sum(v for v in timings.values() if v > 0), 3)
    stable_total = round(
        sum(timings.get(q, 0.0) for q in STABLE_SET if timings.get(q, 0) > 0),
        3,
    )
    common = _prev_round_common(timings)
    # Compact driver-facing envelope (VERDICT r9 #1): the driver records
    # only the LAST ~2000 bytes of stdout, so the final line must carry
    # medians only — per-run arrays and loadavg diagnostics go to the
    # sidecar file under bench_results/, never stdout.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # like-for-like across rounds: sum over the frozen r01 23-metric
        # set (VERDICT r10 #1) — diff THIS against prior rounds, not
        # `value`, which grows as queries enter the tracked set
        "stable_set_total": stable_total,
        # sum over queries present in BOTH this run and the last
        # committed BENCH_r{N}.json, with the previous round's sum over
        # the same set — the growing headline list stops confounding
        # round-over-round deltas (VERDICT r14 #7)
        **(common or {}),
        "queries": timings,
        "sf": sf,
        "reps": reps,
        "protocol": "median"
        + (
            "+per-metric warmup (untimed; sidecar `warmups`)"
            if os.environ.get("SPARK_GRAFT_BENCH_WARMUP") == "1"
            else ""
        ),
    }
    detail = {
        **out,
        "runs": all_runs,
        "warmups": WARMUPS,
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }

    # sf1 regression block: only when a scaled dir is present (generated
    # once via tools/gen_scale.py; not shipped with the fixtures)
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    if os.path.isdir(sf1_dir) and os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        sf1_timings: dict[str, float] = {}
        load_fixture_tables(spark, sf1_dir, force=True)
        sf1_runs: dict[str, list[float]] = {}
        for name in SF1_SUBSET:
            if name not in all_names:
                continue
            try:
                sf1_timings[name], sf1_runs[name] = timed_reps(
                    lambda: run_query(spark, name, sf1_dir), reps,
                    name=f"sf1:{name}",
                )
            except Exception as e:
                print(f"bench error sf1 {name}: {e}", file=sys.stderr)
                sf1_timings[name] = -1.0
            _gc()
        sf1_total = round(sum(v for v in sf1_timings.values() if v > 0), 3)
        out["sf1_queries"] = sf1_timings
        out["sf1_total"] = sf1_total
        detail["sf1_runs"] = sf1_runs
        detail["sf1_queries"] = sf1_timings
        detail["sf1_total"] = sf1_total

    # sf10 driver point (VERDICT r15 #2): only when the scaled dir is
    # present; reps default 2 (each rep is 5-35 s — the median protocol
    # is the same, the rep count bounds the added wall time)
    sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/sf10")
    if (
        os.path.isdir(sf10_dir)
        and os.environ.get("SPARK_GRAFT_SKIP_SF10") != "1"
    ):
        sf10_reps = int(os.environ.get("SPARK_GRAFT_BENCH_SF10_REPS", "2"))
        sf10_timings: dict[str, float] = {}
        sf10_runs: dict[str, list[float]] = {}
        load_fixture_tables(spark, sf10_dir, force=True)
        for name in SF10_SUBSET:
            if name not in all_names:
                continue
            try:
                sf10_timings[name], sf10_runs[name] = timed_reps(
                    lambda: run_query(spark, name, sf10_dir), sf10_reps,
                    name=f"sf10:{name}",
                )
            except Exception as e:
                print(f"bench error sf10 {name}: {e}", file=sys.stderr)
                sf10_timings[name] = -1.0
            _gc()
        sf10_total = round(
            sum(v for v in sf10_timings.values() if v > 0), 3
        )
        out["sf10_queries"] = sf10_timings
        out["sf10_total"] = sf10_total
        detail["sf10_runs"] = sf10_runs
        detail["sf10_queries"] = sf10_timings
        detail["sf10_total"] = sf10_total

    # Full diagnostics to the sidecar; best-effort (bench numbers must
    # still print even on a read-only checkout).
    try:
        os.makedirs("bench_results", exist_ok=True)
        with open(f"bench_results/bench_full_sf{sf}.json", "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:
        print(f"bench sidecar write failed: {e}", file=sys.stderr)

    print(render_line(out))
    spark.stop()


if __name__ == "__main__":
    main()
