"""Physical-plan audit: print each headline query's formatted plan and flag
scale anti-patterns (missing filter pushdown, unexpected non-broadcast dim
joins, no whole-stage codegen, cartesian products).

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bdt_spark.session import get_spark  # noqa: E402
import bdt_spark.plans as plans  # noqa: E402

AUDITED = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_profit",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "events_tumbling_window",
    # round-2 operators
    "events_asof_join",
    "tokens_sequence_packing_sharded",
    "text_benchmark_decontamination",
    "text_topk_terms_per_lang",
    "dedup_survivors_corpus",
    "pipeline_curation_v2",
    "query_recursive_cte",
    # round-5 operators
    "agg_distinct_counts",
    "tokens_packing_efficiency",
    "similarity_ivf_recall_curve",
    # round-9 operators
    "join_bloom_filter_pruning",
    "text_inverted_index",
    "agg_frequent_items_mergeable",
    "text_pmi_cooccurrence",
    "dedup_prefix_filter_jaccard",
    "text_winnowing_fingerprints",
    "tokens_bpe_merge_candidates",
    "multimodal_dedup_phash",
    "orders_scd2_asof_lookup",
    # round-10 globalorder rewrites (formerly single-partition windows)
    "features_quantile_binning",
    "customer_rfm_segmentation",
    "lineitem_pareto_abc",
    "quality_split_drift_ks",
    "text_feature_auc_mann_whitney",
]

# Unpartitioned-window queries whose window input is BOUNDED by
# construction (per-language/per-day rollups, <=31 sketch items, a
# pre-filtered conformance demo) — their SinglePartition-over-Project is
# a few-row exchange, not a corpus sort. Audited r10; anything NEW that
# trips the single-partition check must either be rewritten on
# operators/globalorder.py or justified here.
BOUNDED_SINGLE_PARTITION = {
    "sample_language_temperature",
    "agg_frequent_items_mergeable",
    "window_range_frame",
    "events_daily_growth_accounting",
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, text: str) -> list[str]:
    flags = []
    if "PushedFilters: []" in text and "Filter" in text:
        # a scan with no pushed filters while the plan filters -> check scan
        scans = re.findall(r"PushedFilters: \[\]", text)
        if scans:
            flags.append(f"{len(scans)} scan(s) with empty PushedFilters")
    if "CartesianProduct" in text:
        flags.append("CartesianProduct present")
    # NOTE: WholeStageCodegen spans are not printed in formatted-mode AQE
    # plans; verify codegen with df.explain("codegen") manually if needed.
    if "SortMergeJoin" in text and "BroadcastHashJoin" not in text:
        flags.append("SMJ without any broadcast join (check dim sides)")
    return flags


def broadcast_generate_flags(name: str, df) -> list[str]:
    # Justified queries (boundedness argument + sf100 measurement per
    # entry) live in planaudit.BROADCAST_GENERATE_JUSTIFIED, shared with
    # tests/test_plans.py's repo-wide guard.
    from bdt_spark.planaudit import (
        BROADCAST_GENERATE_JUSTIFIED,
        broadcast_over_generate,
    )

    flagged = broadcast_over_generate(df)
    if name in BROADCAST_GENERATE_JUSTIFIED:
        max_flags = BROADCAST_GENERATE_JUSTIFIED[name][0]
        if len(flagged) <= max_flags:
            return []
        return [
            f"{len(flagged)} broadcast-over-Generate flags exceed the "
            f"justified max {max_flags} — the allowlisted plan regressed"
        ]
    return flagged


def single_partition_flags(name: str, df) -> list[str]:
    """Flag Exchange SinglePartition over anything but a partial
    aggregate's final merge (r10): a one-task stage over data rows is
    the structural cliff operators/globalorder.py removes. Queries in
    BOUNDED_SINGLE_PARTITION are documented few-row exceptions.
    Walks the JVM plan tree (bdt_spark.planaudit) rather than matching
    adjacent toString lines (r10 advice item)."""
    if name in BOUNDED_SINGLE_PARTITION:
        return []
    from bdt_spark.planaudit import single_partition_violations

    return [
        f"SinglePartition over non-aggregate: {child}"
        for child in single_partition_violations(df)
    ]


def main() -> None:
    only = sys.argv[1:] or AUDITED
    # audit the plans the corpus scale runs: sf0.01 is below globalorder's
    # size gate, where its callers take the single-window arm by design
    from bdt_spark.operators import globalorder

    globalorder.WINDOW_MAX_BYTES = 0
    spark = get_spark("explain_audit")
    sf_dir = "/root/testdata/sf0.01"
    for name in only:
        spec = plans.get_query(name)
        df = spec.fn(spark, sf_dir)
        text = plan_text(df)
        flags = (
            audit(name, text)
            + single_partition_flags(name, df)
            + broadcast_generate_flags(name, df)
        )
        print(f"\n===== {name} =====")
        status = "; ".join(flags) if flags else "clean"
        print(f"audit: {status}")
        print(text[:4000])


if __name__ == "__main__":
    main()
