"""Physical-plan tree inspection: the plan-shape ledger row of a query
(`ledger_row`, checked against plans/ledger.json by tests/test_queries.py
and rewritten by tools/plan_ledger.py), plus the structural checks
tests/test_plans.py and tests/test_globalorder.py run.

Everything walks the JVM plan tree via py4j rather than matching the
plan's toString: AdaptiveSparkPlanExec is unwrapped to its current
physical plan, and codegen/AQE wrappers are descended through to the
substantive node (string matching broke whenever a WholeStageCodegen /
InputAdapter wrapper or a multi-line operator sat between two nodes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Pass-through nodes between an exchange and its substantive child.
_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "AQEShuffleRead",
             "ShuffleQueryStage", "ReusedExchange")


def _unwrap_adaptive(node):
    # AdaptiveSparkPlanExec is a leaf node-wise; its real tree hangs off
    # executedPlan() (the current physical plan).
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return _unwrap_adaptive(node.executedPlan())
    return node


def _children(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _walk(node, subqueries: bool = False):
    """Every node of the tree under `node`; with `subqueries`, also the
    plans of its subquery expressions. A reused exchange or subquery is
    a leaf, so work the plan shares counts once."""
    node = _unwrap_adaptive(node)
    yield node
    kids = _children(node)
    if subqueries:
        subs = node.subqueries()
        kids += [subs.apply(i) for i in range(subs.size())]
    for c in kids:
        yield from _walk(c, subqueries)


def _substantive_child(node):
    """First descendant that is not a codegen/AQE wrapper."""
    kids = _children(_unwrap_adaptive(node))
    while kids:
        c = _unwrap_adaptive(kids[0])
        name = c.nodeName()
        if any(name.startswith(w) for w in _WRAPPERS):
            kids = _children(c)
            continue
        return c
    return None


def single_partition_children(df: DataFrame) -> list[str]:
    """Node names of the substantive child under every SinglePartition
    shuffle exchange in df's executed plan (triggers plan compilation,
    not execution). An 'Aggregate' child means the exchange is a final
    merge of per-partition partials — bounded by partition count; any
    other child is a one-task stage over data rows."""
    root = df._jdf.queryExecution().executedPlan()
    out = []
    for node in _walk(root):
        if not node.nodeName().startswith("Exchange"):
            continue
        if "SinglePartition" not in node.outputPartitioning().toString():
            continue
        child = _substantive_child(node)
        out.append(child.nodeName() if child is not None else "<leaf>")
    return out


def single_partition_violations(df: DataFrame) -> list[str]:
    """SinglePartition exchanges whose substantive child is NOT an
    aggregate — the structural cliff operators/globalorder.py removes."""
    return [
        c for c in single_partition_children(df) if "Aggregate" not in c
    ]


# Nodes that preserve their single child's output partitioning — safe to
# descend through when tracing where a plan's partition count comes from.
_PRESERVING = ("Project", "Filter", "WholeStageCodegen", "InputAdapter",
               "ColumnarToRow", "SerializeFromObject", "DeserializeToObject",
               "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
               "Generate", "ReusedExchange")

# Nodes that DETERMINE the partition count statically (before any stage
# runs): exchanges carry their target partitioning, Coalesce its target
# count, AQE shuffle reads their (already decided) partition specs.
_DETERMINING = ("Exchange", "Coalesce", "AQEShuffleRead", "ShuffleQueryStage")


def effective_partitions(df: DataFrame) -> int | None:
    """Static output-partition count of df's plan, or None if the count
    is scan-defined (file splits) or otherwise undeterminable.

    Walks the COMPILED physical plan (no job runs: AdaptiveSparkPlanExec
    is unwrapped to its current plan, which pre-execution is the initial
    plan — exchanges present, partitionings statically known). Descends
    through partitioning-preserving single-child nodes; the first
    partition-determining node answers. A leaf or multi-child node means
    the count comes from the scan layout — callers fall back to their
    file/split heuristic there (reading .rdd would finalize AQE and
    materialize upstream stages eagerly, the r9 advisory)."""
    try:
        node = _unwrap_adaptive(df._jdf.queryExecution().executedPlan())
        while True:
            name = node.nodeName()
            if name.startswith(_DETERMINING):
                n = node.outputPartitioning().numPartitions()
                return int(n) if n > 0 else None
            kids = _children(node)
            if len(kids) != 1 or not name.startswith(_PRESERVING):
                return None
            node = _unwrap_adaptive(kids[0])
    except Exception:
        return None


def broadcast_over_generate(df: DataFrame) -> list[str]:
    """BroadcastExchange nodes whose build subtree contains a Generate
    (explode/posexplode) — the r12 sf100 tfidf lesson: Spark sizes a
    Generate's output from its CHILD's column-ratio estimate (explode
    multiplicity is not modeled), so explode-derived relations get
    static estimates orders of magnitude low and become broadcast build
    sides that cannot be driver-collected at scale. Every hit is either
    a bug or needs a documented boundedness argument (e.g. the
    broadcast relation is capped by an explicit filter/limit before the
    exchange). Static inspection only — no job runs."""
    out = []
    for node in _walk(df._jdf.queryExecution().executedPlan()):
        if not node.nodeName().startswith("BroadcastExchange"):
            continue
        for sub in _walk(node):
            if sub.nodeName().startswith("Generate"):
                out.append(
                    f"BroadcastExchange over Generate({sub.toString().splitlines()[0][:90]})"
                )
                break
    return out


# Columns of a plans/ledger.json row besides `scan:<table>` (the parquet
# scans of each file, named by its stem) and `build_jobs`.
_SHUFFLE_COLUMNS = {
    "HashPartitioning": "exchange_hash",
    "RoundRobinPartitioning": "exchange_round_robin",
    "RangePartitioning": "exchange_range",
    "SinglePartition$": "exchange_single",
}
_NODE_COLUMNS = (  # (node-name prefix, column)
    ("BroadcastExchange", "exchange_broadcast"),
    ("SortMergeJoin", "sort_merge_join"),
    ("BroadcastHashJoin", "broadcast_hash_join"),
    ("CartesianProduct", "nested_loop_join"),
    ("BroadcastNestedLoopJoin", "nested_loop_join"),
    ("Generate", "generate"),
    ("InMemoryTableScan", "in_memory_scan"),
)
_PYTHON_EXEC_PACKAGE = "org.apache.spark.sql.execution.python."


def _ledger_column(node) -> str | None:
    name = node.nodeName()
    if name.startswith("Scan parquet"):
        paths = node.relation().location().rootPaths()
        stems = sorted(
            {str(paths.apply(i).getName()).split(".")[0]
             for i in range(paths.size())}
        )
        return "scan:" + "+".join(stems)
    if name == "Exchange":
        kind = node.outputPartitioning().getClass().getSimpleName()
        return _SHUFFLE_COLUMNS.get(kind, "exchange_other")
    if node.getClass().getName().startswith(_PYTHON_EXEC_PACKAGE):
        return "python_exec"
    return next((col for p, col in _NODE_COLUMNS if name.startswith(p)), None)


def ledger_row(spark, name: str, sf_dir: str) -> tuple[DataFrame, dict]:
    """Build registered query `name` over `sf_dir`, run it, and return
    the DataFrame with its plans/ledger.json row: `build_jobs`, the Spark
    jobs the build starts (from any thread: the ungrouped job ids the
    status tracker gains once the listener bus has delivered every
    event), and the node counts of the DataFrame's own physical plan,
    read before the run. Zero counts are left out. The caller owns the
    result (cacheutil.release).

    The counts come from the plan adaptive execution starts from, not
    the one it ends with: AQE re-plans a join when its first input stage
    finishes, so which side it broadcasts, and which exchanges it then
    reuses, depends on which stage finished first. Two runs of
    text_naive_bayes_langid in one session ended with 4 and 5 broadcast
    exchanges, and join_bloom_filter_pruning with 2 and 5 orders scans."""
    import bdt_spark.plans as plans

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    df = plans.get_query(name).fn(spark, sf_dir)
    bus.waitUntilEmpty()
    row = {"build_jobs": len(
        set(sc.statusTracker().getJobIdsForGroup(None)) - before
    )}
    root = df._jdf.queryExecution().executedPlan()
    for node in _walk(root, subqueries=True):
        col = _ledger_column(node)
        if col is not None:
            row[col] = row.get(col, 0) + 1
    df.collect()
    return df, {k: v for k, v in sorted(row.items()) if v}


# Queries whose broadcast-over-Generate hits are JUSTIFIED — each entry
# is (max_flags, boundedness argument): why the broadcast build side
# cannot reach driver-killing size at any corpus scale, with the sf100
# measurement that backs it (SCALE.md round-12). `max_flags` is the
# MEASURED flag count at probe scale (r13, sf0.001 fixture, any gate
# arm — gated queries' heavy arms all measure 0 because they plan from
# materialized true sizes); the repo-wide guard fails when a justified
# query's flagged count EXCEEDS it, so a plan regression inside an
# allowlisted query is caught instead of blanket-excused (r12 ADVICE).
# Anything NEW that trips broadcast_over_generate is either a latent
# maxResultSize bug (the sf100 tfidf failure: agg+HAVING over an
# unmodeled ~500x explode gave a ~1000x estimate/true gap AND the true
# relation grew with corpus vocabulary) or gets an argument added here.
# The two recurring safe shapes: (a) the build side is hard-bounded by
# a pushed probe-set filter; (b) the build side's static estimate is
# PROPORTIONAL to the scan (constant-factor gap only), so the estimate
# crosses the 10 MB broadcast threshold long before the true size
# threatens the driver, and the relation sits above shuffle stages
# whose runtime sizes AQE re-plans with.
BROADCAST_GENERATE_JUSTIFIED: dict[str, tuple[int, str]] = {
    "text_benchmark_decontamination": (1,
        "broadcast side is the benchmark n-gram set, gated doc_id < 10 "
        "before the explode — 10 docs at any corpus sf"
    ),
    "dedup_prefix_filter_jaccard": (9,
        "the whole query is gated doc_id < 2000 pushed into the scan — "
        "every explode-derived relation is bounded by the fixed probe "
        "set, not the corpus"
    ),
    "pipeline_curation_v2": (3,
        "contamination build sides are the doc_id < 10 benchmark "
        "shingle set (hard-bounded); the per-doc repetition-ratio side "
        "is ~16 B/doc with a scan-proportional estimate (no explode "
        "compounding: agg output ~ docs), so the estimate crosses the "
        "broadcast threshold ~30x before the true size reaches 1 GB; "
        "measured sf100: 61.9 s, no driver collect over 80 MB"
    ),
    "text_winnowing_fingerprints": (1,
        "the rare-fp self-join sides sit above TWO window shuffles "
        "(doc_id, then minh partitions) — AQE re-plans the join from "
        "those stages' runtime bytes, bounding the estimate error to "
        "the post-window filter factor; estimates are scan-proportional "
        "(fingerprints ~ 2/(w+1) of grams); measured sf10 and sf100 "
        "(792 s r11, SMJ chosen at sf100)"
    ),
    "tokens_bpe_merge_candidates": (5,
        "adjacency-join sides derive from the DISTINCT-word table "
        "(vocabulary, Heaps-sublinear in corpus) above the wfreq agg "
        "shuffle whose runtime size AQE re-plans with; measured sf100: "
        "11.1 s, 2.0x wall for 10x docs"
    ),
    "dedup_minhash_lsh": (3,
        "small-corpus arm only (EAGER_PERSIST_MIN_BYTES gate, "
        "operators/dedup.py): flagged builds are the hot-bucket "
        "anti-join set (hard-bounded at n_rows/cap keys) and a band "
        "self-join side whose explode multiplicity is the CONSTANT "
        "n_bands (no estimate compounding); the scale arm materializes "
        "the bucket/candidate tables so joins plan from true cached "
        "sizes and measures 0 flags; measured sf100: 74.3 s"
    ),
    "dedup_minhash_lsh_k64": (3,
        "same operator as dedup_minhash_lsh at k=64 geometry — same "
        "bounds, same materialized scale arm (0 flags)"
    ),
    "dedup_incremental_minhash": (2,
        "both flagged builds are the hot-bucket NOT-IN anti-join key "
        "set (HAVING COUNT(*) > cap over state buckets — hard-bounded "
        "at n_rows/cap keys by construction, the minhash_pairs "
        "doctrine; the CTE inlines into two consumers, hence 2). The "
        "probe/verify joins themselves are pinned MERGE — no "
        "corpus-derived side can be statically broadcast"
    ),
    "dedup_embedding_cosine": (3,
        "the Generate is the r16 single-pass posexplode of the "
        "CONSTANT-width band array (n_bands=2 — fixed multiplicity, no "
        "estimate compounding; the pre-r16 UNION ALL form built the "
        "identical relations without a Generate node). Flagged builds: "
        "the forced-broadcast hot-bucket anti-join key set (hard-"
        "bounded at n_rows/cap single-BIGINT keys) and candidate-join "
        "sides derived from the bucketed projection v, which the scale "
        "arm (EAGER_PERSIST_MIN_BYTES gate) materializes so joins plan "
        "from true cached sizes — the dedup_minhash_lsh doctrine; "
        "measured sf100: 39.4 s (r15 sweep)"
    ),
    "dedup_incremental_embedding": (3,
        "the Generate is the r16 single-pass LATERAL VIEW POSEXPLODE "
        "of the CONSTANT-width band array (n_bands=2 — fixed "
        "multiplicity; pre-r16 UNION ALL built the same relations "
        "Generate-free). Flagged builds: the hot-bucket NOT-IN key set "
        "(HAVING COUNT(*) > cap — hard-bounded at n_rows/cap keys, "
        "inlines into two consumers) and the INCOMING-batch bucket "
        "side (batch-sized by construction, never the corpus; corpus "
        "state is always the probe join's streamed side)"
    ),
    "text_duplicate_span_ratio": (1,
        "build is the per-shingle frequency table above the shingle agg "
        "shuffle (AQE re-plans from its true bytes); no HAVING "
        "compounding (the tfidf estimate trigger), so the static "
        "estimate crosses the broadcast threshold scan-proportionally; "
        "measured sf100: 55.9 s, 5.1x wall for 11.2x grams"
    ),
    "text_unigram_logprob_score": (2,
        "build is the unigram frequency table — vocabulary-bounded "
        "(Heaps-sublinear); broadcasting the LM table IS the intended "
        "scoring plan; sits above the word agg shuffle for AQE demotion "
        "on pathological vocabularies"
    ),
    "text_idf_rarity_score": (1,
        "build is the word document-frequency table — vocabulary-"
        "bounded, above the distinct+agg shuffles AQE re-plans with"
    ),
    "text_naive_bayes_langid": (5,
        "build is the per-(lang, word) NB model — vocabulary x n_langs, "
        "broadcast BY DESIGN (the r11 broadcast-model pin that took "
        "sf10 from 144 s to 10 s); sits above the training agg shuffles"
    ),
    "text_pmi_cooccurrence": (6,
        "small-scan arm only (pipeline_text._MATERIALIZE_MIN_SCAN_BYTES "
        "gate on plan_scan_bytes — see that constant for the "
        "measured crossover): build is the word df table, vocabulary-"
        "bounded; the heavy arm plans every join against the "
        "MATERIALIZED token cache's true size and measures 0 flags"
    ),
}
