"""Physical-plan tree inspection shared by tools/explain_audit.py and
tests/test_globalorder.py.

The r10 versions classified `Exchange SinglePartition` children by
substring-matching the NEXT line of the plan's toString — fragile when a
WholeStageCodegen / InputAdapter wrapper (or a multi-line operator) sits
between the exchange and its real child (r10 advice item). This walks the
actual JVM plan tree via py4j instead: unwrap AdaptiveSparkPlanExec to its
current physical plan, find every shuffle exchange whose output
partitioning is SinglePartition, then descend through codegen wrappers to
the first substantive child and report its node name.
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


def _walk(node):
    node = _unwrap_adaptive(node)
    yield node
    for c in _children(node):
        yield from _walk(c)


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


def _scan_root_names(node) -> list[str] | None:
    """Basenames of a file scan's root paths, resolved from its FileIndex
    (FileSourceScanExec.relation.location.rootPaths) — exact, immune to
    spark.sql.maxToStringFields truncation of the rendered Location
    string and to partitioned-subdir paths (r13 ADVICE: substring
    matching over toString() is a silent-false-negative vector). None
    when the node has no resolvable relation (v2/exotic scans)."""
    try:
        paths = node.relation().location().rootPaths()
        return [
            str(paths.apply(i).getName()).lower()
            for i in range(paths.size())
        ]
    except Exception:
        return None


def broadcast_over_big_scan(
    df: DataFrame, big_tables: set[str], seen_roots: set[str] | None = None
) -> list[str]:
    """BroadcastExchange nodes whose MAP-ONLY build subtree scans one of
    the named fact tables — the r13 q21 midpoint lesson, generalized: a
    selective filter over a corpus-scale scan (o_orderstatus='F' over 45M
    orders) statically shrinks the relation under the broadcast threshold,
    and the true build then dies with "Not enough memory to build and
    broadcast". A hit is a plan that only survives where the filter's
    TRUE output happens to be small; at a bigger shard of the same data
    it is a dead job. Only map-only subtrees are flagged: a shuffle
    between the scan and the BroadcastExchange is a query-stage boundary,
    so AQE re-selects the join strategy there from TRUE materialized
    sizes — a broadcast above a shuffle is runtime-safe at any scale,
    while a scan->filter->broadcast chain has no stage boundary and its
    static decision is final. Match is by the scan's fixture file path;
    static inspection only — no job runs. Callers adjudicate the
    remaining hits: safe when the build is a hard-bounded probe-set/key
    filter or an honestly-estimated full scan (the estimate tracks true
    size linearly, so bigger shards flip to SMJ on their own);
    q21-class when a filter's estimate shrinks while its true output
    scales with the corpus.

    Matching is FileIndex-first: the scan's actual root-path basenames
    (exact) with the rendered-string needle only as fallback for scans
    without a resolvable relation. Pass `seen_roots` to collect every
    root name observed under a BroadcastExchange — an audit's "no hits"
    is only a clean bill alongside the evidence of what it resolved."""
    out = []
    # fallback needles match the fixture FILE name, not a bare substring:
    # "part" is inside both "parquet" and every "part-00001" file of a
    # dir layout, and a scan's simpleString ends with its Location path
    needles = {t.lower(): f"/{t.lower()}.parq" for t in big_tables}

    def _maponly_scan_hit(node):
        node = _unwrap_adaptive(node)
        name = node.nodeName()
        if name.startswith("Exchange") or name.startswith("ShuffleExchange"):
            return None  # stage boundary: AQE re-sizes everything above
        if "Scan" in name or name.startswith("FileScan"):
            roots = _scan_root_names(node)
            if roots is not None:
                if seen_roots is not None:
                    seen_roots.update(roots)
                hit = next(
                    (
                        t
                        for t in needles
                        if any(
                            r == t or r.startswith(f"{t}.") for r in roots
                        )
                    ),
                    None,
                )
            else:
                text = node.toString().lower()
                if seen_roots is not None:
                    seen_roots.add(f"<unresolved: {name}>")
                hit = next((t for t, n in needles.items() if n in text), None)
            if hit is not None:
                return (hit, node.toString().splitlines()[0][:90])
        for c in _children(node):
            found = _maponly_scan_hit(c)
            if found is not None:
                return found
        return None

    for node in _walk(df._jdf.queryExecution().executedPlan()):
        if not node.nodeName().startswith("BroadcastExchange"):
            continue
        for c in _children(_unwrap_adaptive(node)):
            found = _maponly_scan_hit(c)
            if found is not None:
                out.append(
                    f"BroadcastExchange over map-only scan of {found[0]}: "
                    f"{found[1]}"
                )
                break
    return out


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
