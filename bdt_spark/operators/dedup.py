"""Reusable dedup operators over arbitrary (id, text) tables.

The oracled queries in plans/pipeline_dedup.py pin these semantics against
DuckDB on the fixture `documents` table; this module is the same logic
parameterized by column names so the CLI (and any caller) can dedup any
table. plans/pipeline_dedup.py delegates its Spark side here — one
implementation, two consumers.

Scale summary (same as the query docstrings): shingling is map-only;
signatures are one partial-agg shuffle on the id; the LSH bucket
self-join is equi on band keys; exact-Jaccard verification touches only
candidate pairs. Nothing is O(n^2) in the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bdt_spark.sources.io import hadoop_fs

# Default minhash geometry. 8 hashes / 4 bands (2 rows per band) gives an
# S-curve centered near t=0.5 and is what the DuckDB oracle models;
# production near-dup at corpus scale typically runs 64-128 hashes — pass
# k_hash/n_bands to minhash_pairs (or --minhash-k/--minhash-bands on the
# CLI) to tighten the Jaccard estimate (see
# tests/test_dedup_ops.py::test_higher_k_tightens_jaccard_estimate).
K_HASH = 8          # minhash signature length
N_BANDS = 4         # LSH bands (rows per band = K_HASH / N_BANDS)

# Per-band-bucket membership cap. A band bucket with n docs emits
# n*(n-1)/2 candidate pairs, so ONE boilerplate-heavy bucket (a shared
# license header, an empty-string cluster) turns the candidate join
# quadratic at corpus scale. Buckets above the cap are dropped entirely —
# the standard LSH practice: such buckets are dominated by a near-identical
# template whose members exact-dedup (or a smaller shingle-level dedup)
# should collapse instead. The default is far above any fixture bucket
# (sf1 max observed bucket ≈ low hundreds), so the oracled queries are
# unaffected; scale callers tune it down (~300-1000 is typical).
HOT_BUCKET_CAP = 5000

# Input size (Catalyst plan-stats estimate) below which the eager
# persist+count materializations are SKIPPED: for a small corpus the
# three materializing actions are most of the wall time (~12 s at
# sf0.1 for work whose recompute costs well under a second), while at
# scale they are a measured ~2x saving (the multi-consumer DAG
# re-shingles/re-hashes per branch without them). The plan is
# otherwise identical either way — only the caching changes, never
# semantics. 10 MB sits between the sf1 fixture (2.3 MB, recompute
# trivially cheap) and the sf10 corpus (16 MB, persists already
# measured worthwhile).
EAGER_PERSIST_MIN_BYTES = 10 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (file bytes for scans) —
    driver-side, no job.

    Catalyst reports `spark.sql.defaultSizeInBytes` (Long.MaxValue by
    default) for plans whose leaves carry no statistics, and operators
    above such a leaf SCALE that sentinel (a column-pruning Project
    multiplies it by the output/input row-width ratio), so no threshold
    on the ROOT estimate can distinguish "huge" from "unknown-times-
    ratio". The gate therefore never reads the root: input size is the
    SUM OF LEAF estimates. Leaves with real stats contribute their size
    (file scans: file bytes); RDD-backed leaves (`LogicalRDD` from
    createDataFrame, `LocalRelation`) are driver-local by construction —
    bounded by driver memory, never the at-scale case — and count as
    zero. Any OTHER stats-less leaf (an exotic source) returns the
    scale-safe large answer (persists kept). Summing leaves ignores
    filters between leaf and operator — a conservative over-estimate
    that can only err toward keeping the scale path. A test forces the
    scale path by setting EAGER_PERSIST_MIN_BYTES to 0."""
    try:
        jconf = df.sparkSession._jsparkSession.sessionState().conf()
        unknown = int(jconf.defaultSizeInBytes())
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if int(leaf.stats().sizeInBytes()) < unknown:
                total += int(leaf.stats().sizeInBytes())
            elif leaf.getClass().getSimpleName() not in (
                "LogicalRDD",
                "LocalRelation",
            ):
                return 1 << 62
        return total
    except Exception:
        return 1 << 62


def shingle_expr(text_col: str = "text") -> str:
    """Distinct word-3-shingle array of lower(text_col) (Spark SQL
    expression; the oracled queries in plans/ use it too).

    zip_with over shifted slices instead of indexed element_at in a
    transform lambda: the naive form re-evaluates split() for every
    element access (~3x shingle count per doc); this form references the
    split array ~5x per DOC. zip_with pads the shorter side with null and
    concat propagates null, so the trailing partial shingles drop out in
    the filter."""
    w = f"split(lower({text_col}), ' ')"
    return (
        f"array_distinct(filter(zip_with("
        f"zip_with({w}, slice({w}, 2, size({w})), (x, y) -> concat(x, ' ', y)),"
        f" slice({w}, 3, size({w})), (x, y) -> concat(x, ' ', y)),"
        f" x -> x IS NOT NULL))"
    )


def _validate_k(k_hash: int) -> None:
    if k_hash < 4 or k_hash % 4 != 0:
        raise ValueError(
            f"k_hash must be a positive multiple of 4 (md5 yields four "
            f"8-hex-char lanes per digest), got {k_hash}"
        )


def _validate_geometry(k_hash: int, n_bands: int) -> None:
    _validate_k(k_hash)
    if n_bands < 1 or k_hash % n_bands != 0:
        raise ValueError(
            f"n_bands must divide k_hash evenly, got k_hash={k_hash} "
            f"n_bands={n_bands}"
        )


def minhash_lane_exprs(k_hash: int = K_HASH) -> tuple[list[str], list[str]]:
    """(digest_exprs, lane_exprs) computing a k_hash-lane minhash signature
    over a `shingles` array column. Each seeded md5 digest is evaluated once
    per (shingle, seed) and sliced into four 8-hex-char lanes; lane mins via
    array_min — map-only, no explode."""
    _validate_k(k_hash)
    digest_exprs = [
        f"transform(shingles, s -> md5(concat('{i}#', s))) AS d{i}"
        for i in range(k_hash // 4)
    ]
    lane_exprs = [
        f"array_min(transform(d{j // 4}, x -> substring(x,"
        f" {(j % 4) * 8 + 1}, 8))) AS h{j}"
        for j in range(k_hash)
    ]
    return digest_exprs, lane_exprs


def band_keys_expr(k_hash: int = K_HASH, n_bands: int = N_BANDS) -> str:
    _validate_geometry(k_hash, n_bands)
    rows = k_hash // n_bands
    parts = []
    for b in range(n_bands):
        sig = ", ".join(f"h{b * rows + r}" for r in range(rows))
        parts.append(f"concat('b{b}:', md5(concat({sig})))")
    return f"array({', '.join(parts)})"


def exact_dup_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Groups of exact duplicates on `cols`: md5-hash groupBy, survivor =
    MIN(id). One partial+final agg shuffle.

    NULL-safe key: each column is length-prefixed after a NULL sentinel
    substitution, so ('a', NULL) != (NULL, 'a') and ('ab', 'c') != ('a', 'bc')
    — concat_ws alone would silently drop NULLs and merge those rows."""
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        enc = F.when(s.isNull(), F.lit("\x00N")).otherwise(
            F.concat(F.length(s).cast("string"), F.lit(":"), s)
        )
        parts.append(enc)
    key = F.md5(F.concat_ws("\x1f", *parts))
    return (
        df.groupBy(key.alias("dup_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias(f"keep_{id_col}"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("dup_hash")
    )


def minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_partitions: int | None = None,
    hot_bucket_cap: int = HOT_BUCKET_CAP,
    stats: dict | None = None,
    k_hash: int = K_HASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH + exact-Jaccard verification.

    Exact transplant of the oracled `dedup_minhash_lsh` plan (see
    plans/pipeline_dedup.py for the DuckDB oracle pinning these semantics),
    parameterized by column names. The oracle models the hot-bucket cap
    at its DEFAULT value, so the gate holds even on corpora where the
    cap triggers; callers overriding `hot_bucket_cap` diverge from the
    oracle by construction (they asked for different semantics).

    `hot_bucket_cap` bounds candidate-pair blowup: band buckets with more
    than `hot_bucket_cap` members are dropped before the self-join (see
    HOT_BUCKET_CAP). The hot-key set is found with a partial-agg count
    (map-side combine, so the hot keys themselves cannot skew it) and
    removed via a BROADCAST anti-join — the bucket rows are never
    shuffled for the cap, and no single task ever holds a hot bucket's
    full membership (a window-count over bkey would put all members of
    exactly the pathological buckets into one task). The hot set is tiny
    by construction (at most n_rows / cap keys, in practice a handful of
    boilerplate clusters). Pass a `stats` dict to receive
    {"hot_buckets_dropped": n, "hot_bucket_cap": cap}.

    `k_hash`/`n_bands` set the signature geometry (rows per band =
    k_hash / n_bands). More hashes tighten the per-pair Jaccard estimate
    (stderr ~ sqrt(j(1-j)/k)); more rows per band sharpen the S-curve so
    fewer below-threshold candidates reach verification. The oracled
    defaults (8/4) are far below the 64-128 production near-dup uses;
    non-default geometry diverges from the DuckDB oracle by construction.

    EAGER_PERSIST_MIN_BYTES, read at call time, gates BOTH the
    persist+count materializations AND the verification plan arm on
    the Catalyst input-size estimate: above the gate,
    intermediates are cached and Jaccard verification re-shingles only
    the candidate docs (the sf100-viable shape — no corpus-derived
    cache anywhere); below it, nothing is cached and verification joins
    the corpus shingle table directly (the single-pass small-corpus
    shape — the subset joins would otherwise recompute the uncached
    candidate subtree three times). Identical results either way,
    pinned by tests/test_dedup_ops.py::
    test_minhash_gate_both_arms_agree, which sets it to 0 to force the
    scale path.
    """
    from pyspark import StorageLevel

    _validate_geometry(k_hash, n_bands)
    in_bytes = _plan_size_bytes(df)
    if n_partitions is None:
        # default repartition width derives from the same input-size
        # estimate as the persist gate (io.exchange_width_for_bytes
        # doctrine — a fixed literal on a corpus-proportional exchange
        # is the VERDICT r14 #1 class). Explicit caller values — e.g.
        # the oracled plans passing the session shuffle count — win.
        from bdt_spark.sources.io import exchange_width_for_bytes

        n_partitions = exchange_width_for_bytes(in_bytes)
    # eager materialization (gated on input size, see
    # EAGER_PERSIST_MIN_BYTES): four downstream branches consume the
    # shingle subtree; a lazy cache lets concurrent branches of one job
    # recompute it. Below the gate the recompute is cheaper than the
    # three count() actions.
    eager = in_bytes >= EAGER_PERSIST_MIN_BYTES

    def _mat(d: DataFrame) -> DataFrame:
        if not eager:
            return d
        p = d.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        return p

    # The corpus-sized shingle table is NEVER cached (r12 sf100 fix):
    # caching it was the operator's one O(corpus) memory term — at sf100
    # (5M docs, ~500 shingles/doc) the MEMORY_AND_DISK unroll of ~550 MB
    # partitions x 32 concurrent tasks OOM'd the 8 GB heap, and at
    # 100 TB a corpus-derived cache (shingles ~ 8x text bytes) has no
    # home on ANY tier. It has exactly one consumer (the signature
    # projection); Jaccard verification below re-shingles only the
    # CANDIDATE docs instead of probing a full-corpus cache.
    sh = df.repartition(n_partitions, id_col).selectExpr(
        id_col, f"{shingle_expr(text_col)} AS shingles"
    )

    # map-only signatures: one digest array per seed (md5 evaluated once
    # per (shingle, seed), exactly like the exploded form), then lane mins
    # via array_min — no explode, no doc_id shuffle; the band-bucket
    # exchange below is the pipeline's ONLY pre-join shuffle
    digest_exprs, lane_exprs = minhash_lane_exprs(k_hash)
    sig = sh.selectExpr(id_col, *digest_exprs).selectExpr(
        id_col, *lane_exprs
    )
    buckets = sig.selectExpr(
        id_col, f"explode({band_keys_expr(k_hash, n_bands)}) AS bkey"
    )
    # Persist the (id, bkey) table: it is tiny (N_BANDS rows per doc, two
    # narrow columns) but its lineage contains ALL the md5 signature
    # transforms — and it has three consumers (the hot-bucket count and
    # both sides of the band self-join). Without the cache each consumer
    # re-shingles and re-hashes the corpus from scratch (measured ~2x the
    # query's whole cost). At 100 TB this is the same call:
    # MEMORY_AND_DISK spills per-executor, no shuffle is added.
    buckets = _mat(buckets)
    hot = None
    if hot_bucket_cap:
        hot = (
            buckets.groupBy("bkey")
            .count()
            .filter(F.col("count") > hot_bucket_cap)
            .select("bkey")
        )
        if stats is not None:
            # persist so the count here and the anti-join build below
            # share one aggregation over the cached buckets (the hot set
            # is tiny: at most n_rows / cap keys)
            hot = hot.persist(StorageLevel.MEMORY_AND_DISK)
            stats["hot_bucket_cap"] = hot_bucket_cap
            stats["hot_buckets_dropped"] = hot.count()
        capped = buckets.join(F.broadcast(hot), "bkey", "left_anti")
    else:
        capped = buckets
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sub = None
    if eager:
        # Candidate pairs are bounded (hot-bucket cap -> linear in
        # corpus, near-dup rate makes them a small fraction of docs).
        # Materialize on the scale path so (a) the two verify joins
        # don't recompute the band self-join and (b) the subset joins
        # below plan against the TRUE cached size (the tfidf statistics
        # pattern).
        cand = _mat(cand)
        # Jaccard verification re-shingles ONLY the candidate members:
        # the shingle filter happens BEFORE the shingle expression, so
        # the corpus pays text scanning once here, never array
        # materialization. No broadcast is forced — `ids` sits above
        # shuffle stages, so AQE picks broadcast at probe scale and
        # falls back to a shuffle join if a pathological corpus ever
        # makes the candidate set huge.
        ids = (
            cand.select(F.col("doc_a").alias(id_col))
            .union(cand.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        sub = _mat(
            df.join(ids, id_col).selectExpr(
                id_col, f"{shingle_expr(text_col)} AS shingles"
            )
        )
        verify = sub
    else:
        # Small-corpus arm (r13 gate, mirroring the pmi pattern at
        # plans/pipeline_text.py:_MATERIALIZE_MIN_SCAN_BYTES): below
        # EAGER_PERSIST_MIN_BYTES nothing is cached, so the scale arm's
        # candidate-subset joins would recompute the UNCACHED `cand`
        # subtree (signatures + band self-join) three times — the left
        # side of the verify join plus both shingled-subset builds.
        # Measured at sf0.1: 2.86 s for the lazy scale arm vs ~1.0 s
        # verifying straight against the corpus shingle table (the r11
        # single-pass shape). The sf100 OOM the scale arm fixes cannot
        # exist here: the corpus is under the gate bytes by definition,
        # and `sh` stays lazy (never persisted) on this arm too.
        verify = sh
    jac = (
        "ROUND(size(array_intersect(sa.shingles, sb.shingles)) /"
        " CAST(size(array_union(sa.shingles, sb.shingles)) AS DOUBLE), 6)"
    )
    pairs = (
        cand.join(verify.alias("sa"), F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(verify.alias("sb"), F.col("doc_b") == F.col(f"sb.{id_col}"))
        .selectExpr("doc_a", "doc_b", f"{jac} AS jaccard")
    )
    out = pairs.filter(F.col("jaccard") >= threshold).orderBy(
        "doc_a", "doc_b"
    )
    # When the size gate selects the eager path: persist the (small) pair
    # output, force it eagerly, then drop the intermediate blocks
    # (buckets/cand/sub) so repeated
    # library/CLI calls in one session don't accumulate cached blocks —
    # the returned DataFrame stays persisted and is CALLER-OWNED (call
    # .unpersist() when done). persist() keeps the lineage intact
    # (executor loss recomputes through the plan, re-deriving shingles as
    # needed) and — unlike the localCheckpoint this replaces — does not
    # convert to an RDD, so AQE still plans the bucket self-join (measured
    # 5s/call cheaper at sf0.1). On the small-input path nothing is
    # persisted or forced; the plan returns fully lazy.
    out = _mat(out)
    if eager:
        buckets.unpersist()
        cand.unpersist()
        sub.unpersist()
    if hot is not None and stats is not None:
        hot.unpersist()
    return out


# ---------------------------------------------------------------------------
# Embedding near-dup: sparse sign-LSH buckets + in-bucket spanning window
# ---------------------------------------------------------------------------

# Default geometry, shared with the oracled queries (plans/pipeline_dedup.py
# generates BOTH dialects' SQL from these same constants/planes, so an
# edit here re-parameterizes the Spark operator AND the DuckDB oracle
# together). Measured on the 210k-vector sf10 corpus: candidate precision
# 0.998, injected-near-dup band-collision recall 0.99+ (property-pinned
# in tests/test_dedup_ops.py).
NEARDUP_BANDS = 2     # independent OR-construction bands
NEARDUP_PLANES = 24   # sign bits per band -> 2^24-bucket space per band
NEARDUP_NNZ = 8       # nonzero +/-1 coefficients per sparse hyperplane
NEARDUP_WINDOW = 8    # contiguous in-bucket predecessors per member
# Long-range rungs: rank distances 16*k for every interleave factor
# k = 1..NEARDUP_WINDOW. When k cliques share a bucket round-robin,
# same-clique rank distances are multiples of k — the rung 16*k is then
# an in-clique 16-member jump, so the component diameter stays
# ~members/16 for EVERY k the contiguous window can connect (k <= 8).
# Plain powers of two (the first attempt) are never divisible by
# k in {3,5,6,7}: those interleaves degraded to a window-step chain and
# blew past the CC loop's max_iters at sf10.
NEARDUP_RUNGS = tuple(16 * k for k in range(1, NEARDUP_WINDOW + 1))


def sparse_planes(
    n_planes: int, dim: int = 64, nnz: int = NEARDUP_NNZ
) -> list[list[tuple[int, int]]]:
    """Deterministic sparse +/-1 hyperplanes (Achlioptas-style random
    projections): each plane is `nnz` distinct (dim_index, sign) pairs
    drawn from a fixed xorshift64 stream — engine-independent literals,
    so SQL generated from them is identical for Spark and DuckDB."""
    mask = 0xFFFFFFFFFFFFFFFF
    state = 0x9E3779B97F4A7C15

    def nxt() -> int:
        nonlocal state
        state ^= (state << 13) & mask
        state ^= state >> 7
        state ^= (state << 17) & mask
        return state

    planes: list[list[tuple[int, int]]] = []
    for _ in range(n_planes):
        dims: list[int] = []
        while len(dims) < nnz:
            d = nxt() % dim
            if d not in dims:
                dims.append(d)
        planes.append([(d, 1 if nxt() & 1 else -1) for d in dims])
    return planes


def sparse_dot_sql(
    plane: list[tuple[int, int]], col: str = "embedding", one_based: bool = False
) -> str:
    """Flat +/- chain over directly-indexed elements (no per-element
    lambda; Spark arrays are 0-based, DuckDB lists 1-based)."""
    off = 1 if one_based else 0
    return (
        "("
        + " ".join(
            f"{'+' if s > 0 else '-'} CAST({col}[{d + off}] AS DOUBLE)"
            for d, s in plane
        )
        + ")"
    )


def sparse_band_bucket_sql(
    band_planes, col: str = "embedding", one_based: bool = False
) -> str:
    """Sign-bit bucket key for one band: sum of 2^i per positive plane dot."""
    bits = [
        f"(CASE WHEN {sparse_dot_sql(p, col, one_based)} > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(band_planes)
    ]
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def flat_dot_sql(
    a: str, b: str, dim: int = 64, one_based: bool = False
) -> str:
    """Unrolled dot product — same IEEE accumulation order as a
    sequential fold, but inside codegen instead of lambda interpretation."""
    off = 1 if one_based else 0
    return (
        "("
        + " + ".join(
            f"CAST({a}[{i + off}] AS DOUBLE) * CAST({b}[{i + off}] AS DOUBLE)"
            for i in range(dim)
        )
        + ")"
    )


def flat_norm_sql(e: str, dim: int = 64, one_based: bool = False) -> str:
    """Unrolled Euclidean norm (see flat_dot_sql)."""
    off = 1 if one_based else 0
    return (
        "SQRT("
        + " + ".join(
            f"CAST({e}[{i + off}] AS DOUBLE) * CAST({e}[{i + off}] AS DOUBLE)"
            for i in range(dim)
        )
        + ")"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    n_bands: int = NEARDUP_BANDS,
    n_planes: int = NEARDUP_PLANES,
    window: int = NEARDUP_WINDOW,
    rungs: tuple[int, ...] = NEARDUP_RUNGS,
    hot_bucket_cap: int = HOT_BUCKET_CAP,
    n_partitions: int | None = None,
) -> DataFrame:
    """Verified cosine>=threshold near-dup pairs via sparse sign-LSH
    buckets and an in-bucket spanning window + log rungs.

    Same semantics as the oracled dedup_embedding_cosine query
    (plans/pipeline_dedup.py generates the DuckDB oracle from the same plane
    table), but as a DataFrame plan with ONE materialization of the
    bucketed/normed projection: the SQL-CTE form re-plans that subtree
    for every consumer (~45 exchanges at sf0.1); here `v` is persisted
    and reused, like minhash_pairs' shingle cache.

    Scale shape: one repartition of the corpus, one window per bucket
    key, a rank-residual self-join (<= window + len(rungs) candidates
    per member — LINEAR in corpus size at any label/bucket skew thanks
    to the hot-bucket cap), and exact-cosine verification on candidates
    only. The pair set SPANS every bucket-coherent near-dup group, so
    connected components over it equal the exhaustive-pair clustering.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    planes = sparse_planes(n_bands * n_planes, dim=dim)
    band_cols = [
        F.expr(
            sparse_band_bucket_sql(
                planes[b * n_planes : (b + 1) * n_planes], emb_col
            )
        ).alias(f"bucket{b}")
        for b in range(n_bands)
    ]
    # dim guard: the unrolled dot/norm SQL is generated for EXACTLY `dim`
    # elements; a longer array would silently contribute only its prefix
    # and a shorter one would NULL out every cosine (out-of-range indexing
    # yields NULL) — both wrong-but-quiet. raise_error() makes the
    # mismatch loud at the first materialization, for ~nothing (one size()
    # per row next to a 64-term chain).
    nrm_guarded = (
        f"CASE WHEN size({emb_col}) = {dim} THEN {flat_norm_sql(emb_col, dim)}"
        f" ELSE raise_error(concat('embedding dim ',"
        f" CAST(size({emb_col}) AS STRING), ' != expected {dim}')) END"
    )
    # materialize once when the input clears the size gate (see
    # EAGER_PERSIST_MIN_BYTES): every branch below reuses these blocks;
    # under the gate, recomputing the projection is cheaper than the
    # count() actions
    in_bytes = _plan_size_bytes(df)
    if n_partitions is None:
        # derived default width — see minhash_pairs
        from bdt_spark.sources.io import exchange_width_for_bytes

        n_partitions = exchange_width_for_bytes(in_bytes)
    eager = in_bytes >= EAGER_PERSIST_MIN_BYTES

    def _mat(d: DataFrame) -> DataFrame:
        if not eager:
            return d
        p = d.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        return p

    # keyed repartition, not round-robin (guide §2.4/§2.5, r16): hashing
    # by the unique id spreads identically, skips the sort-before-
    # repartition a keyless round-robin pays (SPARK-23207 determinism
    # sort over the full rows), and the exact-cosine verify joins below
    # join v on vec_id — a hashpartitioning(vec_id) child satisfies
    # their distribution, so the corpus-sized v side of BOTH joins
    # shuffles zero bytes (exchange only on the small candidate side).
    v = _mat(
        df.repartition(n_partitions, F.col(id_col)).select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).alias("embedding"),
            F.expr(nrm_guarded).alias("nrm"),
            *band_cols,
        )
    )

    # single-pass bucket emission (r16): the former per-band union of
    # projections scanned/recomputed v once PER BAND; posexplode emits
    # every band key in one pass (pos = band index supplies the
    # band-offset term), so the bucket build reads v exactly once.
    buckets = v.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"bucket{b}") for b in range(n_bands)])),
    ).select(
        "vec_id",
        (F.col("pos") * (1 << n_planes) + F.col("col")).alias("bkey"),
    )
    if hot_bucket_cap:  # falsy cap disables capping, like minhash_pairs
        hot = (
            buckets.groupBy("bkey")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > hot_bucket_cap)
            .select("bkey")
        )
        capped = buckets.join(F.broadcast(hot), "bkey", "left_anti")
    else:
        capped = buckets
    ranked = capped.withColumn(
        "rk", F.row_number().over(Window.partitionBy("bkey").orderBy("vec_id"))
    )
    d = F.col("b.rk") - F.col("a.rk")
    cand = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("b.rk") > F.col("a.rk"))
            & ((d <= window) | d.isin(*[int(r) for r in rungs])),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    cos = flat_dot_sql("va.embedding", "vb.embedding", dim)
    pairs = (
        cand.join(v.alias("va"), F.col("vec_a") == F.col("va.vec_id"))
        .join(v.alias("vb"), F.col("vec_b") == F.col("vb.vec_id"))
        .selectExpr(
            "vec_a",
            "vec_b",
            f"ROUND({cos} / (va.nrm * vb.nrm), 6) AS cos_sim",
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )
    out = _mat(pairs)
    if eager:
        v.unpersist()
    return out


# --- incremental MinHash state (cross-run near-dup dedup) -------------------
#
# The near-dup analog of the exact-dedup fingerprint snapshot
# (dedup_incremental_snapshot): production ingest at 100 TB dedups each
# NEW batch against the EXISTING corpus without rescanning corpus text.
# The carried state is one row per corpus doc — its k-lane minhash
# signature plus band keys — hive-partitioned by ingest batch
# (`state_dir/batch=<id>/`), a replay-idempotent layout: re-running a
# batch overwrites exactly its own partition (dynamic partition
# overwrite), so at-least-once upstream delivery converges to
# exactly-once state.
#
# Scale shape: state update is MAP-ONLY over the batch (shingle ->
# signature -> band keys, no shuffle — the write's partitionBy(batch) is
# a constant column). The probe explodes band keys on BOTH sides and
# equi-joins (new-batch buckets are batch-sized, state buckets
# corpus-sized but never self-joined), caps hot state buckets exactly
# like minhash_pairs, and verifies candidates from SIGNATURE lane
# agreement — state never carries text, so verification needs no second
# corpus pass and the state is O(corpus_docs * k) small strings.


def update_minhash_state(
    spark,
    state_dir: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: str | None = None,
    k_hash: int = K_HASH,
    n_bands: int = N_BANDS,
) -> str:
    """Fold one ingest batch into the minhash state; returns the batch_id.
    Idempotent on replay (dynamic partition overwrite of `batch=<id>`)."""
    import uuid

    _validate_geometry(k_hash, n_bands)
    if batch_id is None:
        batch_id = uuid.uuid4().hex[:12]
    digest_exprs, lane_exprs = minhash_lane_exprs(k_hash)
    sig = (
        batch.selectExpr(
            f"{id_col} AS doc_id", f"{shingle_expr(text_col)} AS shingles"
        )
        .selectExpr("doc_id", *digest_exprs)
        .selectExpr("doc_id", *lane_exprs)
        .selectExpr(
            "doc_id",
            f"array({', '.join(f'h{j}' for j in range(k_hash))}) AS sig",
            f"{band_keys_expr(k_hash, n_bands)} AS bands",
        )
    )
    (
        sig.withColumn("batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(state_dir)
    )
    return batch_id


def _state_batch_ids(spark, state_dir: str) -> list[str]:
    """Batch-partition ids of a batch-partitioned state dir (incremental
    dedup state, IVF increments) — the one partition listing: a
    driver-side Hadoop FS listing, no Spark job. The ids are the `batch`
    values a read shows: Spark escapes a value into its directory name
    (ExternalCatalogUtils.escapePathName), and its own unescapePathName
    undoes that here."""
    fs, p = hadoop_fs(spark, state_dir)
    if not fs.exists(p):
        return []
    catalog = spark._jvm.org.apache.spark.sql.catalyst.catalog
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("batch="):
            out.append(
                catalog.ExternalCatalogUtils.unescapePathName(name[len("batch="):])
            )
    return out


def _read_state_untyped(spark, state_dir: str) -> DataFrame:
    """Read a batch-partitioned state dir with the `batch` partition
    column kept as a raw STRING. Partition type inference would read an
    all-numeric id set (the streaming sinks' zero-padded `%020d` ids)
    as longs — stripping the zero padding and silently breaking every
    `batch` comparison this module's ordering contract relies on
    (lexicographic == monotone), while a later `.compact` id would
    flip the same dir back to strings. Discovery runs eagerly inside
    `read.parquet`, so flipping the session conf around the call is
    complete and leak-free."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        return spark.read.parquet(state_dir)
    finally:
        spark.conf.set(key, old)


def _read_dedup_state(
    spark, state_dir: str, id_col: str, payload_cols: list[str],
    max_batch: str | None,
) -> DataFrame:
    """Read an incremental dedup state with deterministic version
    resolution: optionally drop partitions `batch >= max_batch`
    (partition-pruned — `batch` is the hive key), then, iff more than
    one batch partition survives, keep only the LATEST version of each
    id (max_by over the batch id — the exact ordering
    _compact_dedup_state applies), so probe semantics are identical
    with or without compaction even when a changed document was
    re-ingested across batches (ADVICE r14: without this, candidate
    dedup kept an arbitrary version's signature and the probe result
    flipped run to run).

    Scale shape: the latest-wins pass is one partial-aggregatable
    max_by shuffle over the compact signature state — the same order
    of cost as the probe's existing hot-bucket count, and skipped
    entirely (map-only read restored) when the state is a single
    partition, i.e. right after compaction. The gate is a driver-side
    directory listing, not a job."""
    live = [
        b for b in _state_batch_ids(spark, state_dir)
        if max_batch is None or b < max_batch
    ]
    state = _read_state_untyped(spark, state_dir).select(
        id_col, *payload_cols, "batch"
    )
    if max_batch is not None:
        state = state.filter(F.col("batch") < max_batch)
    if len(live) > 1:
        state = (
            state.groupBy(id_col)
            .agg(F.max_by(F.struct(*payload_cols), F.col("batch")).alias("_s"))
            .select(id_col, *[f"_s.{c}" for c in payload_cols])
        )
    else:
        state = state.drop("batch")
    return state


def incremental_minhash_candidates(
    spark,
    state_dir: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k_hash: int = K_HASH,
    n_bands: int = N_BANDS,
    hot_bucket_cap: int = HOT_BUCKET_CAP,
    max_batch: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup candidates of `batch` against the persisted corpus state:
    (incoming_doc_id, corpus_doc_id, est_jaccard) with est_jaccard =
    matching-lane fraction of the two signatures, filtered >= threshold.

    The batch side is computed map-only (same expressions the state was
    built with — geometry must match the state's or the join finds
    nothing meaningful); state buckets above `hot_bucket_cap` members are
    dropped via broadcast anti-join before pairing, the minhash_pairs
    hot-bucket doctrine applied to the incremental probe. Pass a `stats`
    dict to receive {"hot_buckets_dropped": n, "hot_bucket_cap": cap} —
    the same recall-loss visibility minhash_pairs gives its callers
    (counting runs one small aggregate job). `max_batch` (exclusive,
    compared as the state's string batch ids compare) restricts the
    probe to partitions `batch < max_batch` — the replay guard the
    streaming sinks use so a re-run batch probes exactly the state the
    original run saw. When multiple versions of a corpus doc exist
    across batches (changed-doc re-ingest), the LATEST batch's
    signature wins deterministically (see _read_dedup_state)."""
    _validate_geometry(k_hash, n_bands)
    digest_exprs, lane_exprs = minhash_lane_exprs(k_hash)
    isig = (
        batch.selectExpr(
            f"{id_col} AS doc_id", f"{shingle_expr(text_col)} AS shingles"
        )
        .selectExpr("doc_id", *digest_exprs)
        .selectExpr("doc_id", *lane_exprs)
        .selectExpr(
            "doc_id",
            f"array({', '.join(f'h{j}' for j in range(k_hash))}) AS sig",
            f"{band_keys_expr(k_hash, n_bands)} AS bands",
        )
    )
    state = _read_dedup_state(
        spark, state_dir, "doc_id", ["sig", "bands"], max_batch
    )
    sbuck = state.selectExpr("doc_id", "sig", "explode(bands) AS bkey")
    hot = (
        sbuck.groupBy("bkey")
        .count()
        .filter(F.col("count") > hot_bucket_cap)
        .select("bkey")
    )
    if stats is not None:
        stats["hot_bucket_cap"] = hot_bucket_cap
        stats["hot_buckets_dropped"] = hot.count()
    sbuck = sbuck.join(F.broadcast(hot), "bkey", "left_anti")
    ibuck = isig.selectExpr("doc_id", "sig", "explode(bands) AS bkey")
    pairs = (
        ibuck.alias("i")
        .join(sbuck.alias("c"), "bkey")
        .selectExpr(
            "i.doc_id AS incoming_doc_id",
            "c.doc_id AS corpus_doc_id",
            "i.sig AS isig",
            "c.sig AS csig",
        )
        .dropDuplicates(["incoming_doc_id", "corpus_doc_id"])
    )
    est = pairs.selectExpr(
        "incoming_doc_id",
        "corpus_doc_id",
        f"ROUND(size(filter(zip_with(isig, csig, (x, y) -> x = y),"
        f" b -> b)) / CAST({k_hash} AS DOUBLE), 6) AS est_jaccard",
    )
    return est.filter(F.col("est_jaccard") >= threshold).orderBy(
        "incoming_doc_id", "corpus_doc_id"
    )


# --- incremental embedding near-dup state (cross-run) -----------------------
#
# Completes the incremental-ingest family (exact fingerprints ->
# dedup_incremental_snapshot; MinHash near-dup -> update_minhash_state):
# the corpus's sign-LSH bucket index persists as hive-partitioned batch
# state, and each NEW embedding batch probes it map-only. Unlike minhash
# (where the signature is the sketch), cosine verification needs the
# vectors themselves, so state rows carry (vec_id, embedding, nrm,
# bkeys) — O(corpus x dim), i.e. the same order as the embedding table:
# this state is an INDEX colocating vectors with their bucket keys, not
# a compression, and that is the honest production shape (an ANN/near-
# dup service stores its vectors; what the increment saves is
# re-bucketing and re-scanning the corpus per ingest batch).


def update_embedding_state(
    spark,
    state_dir: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_bands: int = NEARDUP_BANDS,
    n_planes: int = NEARDUP_PLANES,
    batch_id: str | None = None,
) -> str:
    """Fold one embedding batch into the sign-LSH bucket state; returns
    the batch_id. Map-only over the batch; idempotent on replay
    (dynamic partition overwrite of `batch=<id>`)."""
    import uuid

    if batch_id is None:
        batch_id = uuid.uuid4().hex[:12]
    planes = sparse_planes(n_bands * n_planes, dim=dim)
    band_exprs = [
        f"{b} * {1 << n_planes} + "
        + sparse_band_bucket_sql(
            planes[b * n_planes : (b + 1) * n_planes], emb_col
        )
        for b in range(n_bands)
    ]
    rows = batch.selectExpr(
        f"{id_col} AS vec_id",
        f"{emb_col} AS embedding",
        f"{flat_norm_sql(emb_col, dim)} AS nrm",
        f"array({', '.join(band_exprs)}) AS bkeys",
    )
    (
        rows.withColumn("batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(state_dir)
    )
    return batch_id


def incremental_embedding_candidates(
    spark,
    state_dir: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    n_bands: int = NEARDUP_BANDS,
    n_planes: int = NEARDUP_PLANES,
    hot_bucket_cap: int = HOT_BUCKET_CAP,
    max_batch: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup candidates of `batch` against the persisted bucket state:
    (incoming_vec_id, corpus_vec_id, cos_sim) with exact cosine >=
    threshold. Geometry must match the state's. State buckets above
    `hot_bucket_cap` are dropped via broadcast anti-join before pairing
    (the shared LSH hot-bucket doctrine); candidates are linear in
    batch x bucket occupancy, never corpus x corpus. `max_batch` /
    `stats` / latest-batch-wins version resolution as in
    incremental_minhash_candidates."""
    planes = sparse_planes(n_bands * n_planes, dim=dim)
    band_exprs = [
        f"{b} * {1 << n_planes} + "
        + sparse_band_bucket_sql(
            planes[b * n_planes : (b + 1) * n_planes], emb_col
        )
        for b in range(n_bands)
    ]
    iv = batch.selectExpr(
        f"{id_col} AS vec_id",
        f"{emb_col} AS embedding",
        f"{flat_norm_sql(emb_col, dim)} AS nrm",
        f"array({', '.join(band_exprs)}) AS bkeys",
    )
    state = _read_dedup_state(
        spark, state_dir, "vec_id", ["embedding", "nrm", "bkeys"], max_batch
    )
    sbuck = state.selectExpr(
        "vec_id", "embedding", "nrm", "explode(bkeys) AS bkey"
    )
    hot = (
        sbuck.groupBy("bkey")
        .count()
        .filter(F.col("count") > hot_bucket_cap)
        .select("bkey")
    )
    if stats is not None:
        stats["hot_bucket_cap"] = hot_bucket_cap
        stats["hot_buckets_dropped"] = hot.count()
    sbuck = sbuck.join(F.broadcast(hot), "bkey", "left_anti")
    ibuck = iv.selectExpr(
        "vec_id", "embedding", "nrm", "explode(bkeys) AS bkey"
    )
    pairs = (
        ibuck.alias("i")
        .join(sbuck.alias("c"), "bkey")
        .selectExpr(
            "i.vec_id AS incoming_vec_id",
            "c.vec_id AS corpus_vec_id",
            "i.embedding AS iemb",
            "i.nrm AS inrm",
            "c.embedding AS cemb",
            "c.nrm AS cnrm",
        )
        .dropDuplicates(["incoming_vec_id", "corpus_vec_id"])
    )
    cos = f"({flat_dot_sql('iemb', 'cemb', dim)} / (inrm * cnrm))"
    out = pairs.selectExpr(
        "incoming_vec_id",
        "corpus_vec_id",
        f"ROUND({cos}, 6) AS cos_sim",
    )
    return out.filter(F.col("cos_sim") >= threshold).orderBy(
        "incoming_vec_id", "corpus_vec_id"
    )


def _compact_dedup_state(spark, state_dir: str, id_col: str) -> str:
    """Fold every batch partition of an incremental dedup state into one
    compacted partition so the state stays O(corpus rows), not
    O(corpus rows x batches-touched). One row survives per id: the
    lexicographically LATEST batch wins — deterministic, and exact
    whenever re-ingested rows are recomputations of unchanged inputs
    (identical payloads, any winner equal); callers that re-ingest
    CHANGED documents should pass monotonically ordered batch_ids so
    "latest" means newest. The compacted partition's id is
    `<max(folded batches)>.compact` so it sorts exactly where the
    newest folded batch sat — GREATER than every batch it merged,
    SMALLER than any later monotone batch id (ADVICE r14: a
    uuid-prefixed id sorted above the streaming sink's numeric ids,
    so after one compaction a document re-ingested with changed
    content in a later batch lost to the stale compacted row on the
    NEXT compaction). Corollary of the same ordering contract: only
    compact batches whose upstream delivery is COMMITTED — a replay
    of the newest folded batch after compaction would sort below the
    compacted id and lose. Crash-safe ordering: the compacted
    partition is written FIRST, old partitions deleted after (a racing
    reader sees old or old+compacted — per-id duplicates across those
    are identical rows, so probe results are unchanged), and a failed
    delete raises instead of leaving double rows."""
    from pyspark.sql import Window

    old_batches = _state_batch_ids(spark, state_dir)
    if len(old_batches) <= 1:
        # already compact — re-writing would only grow the id
        return old_batches[0] if old_batches else ""
    compact_id = f"{max(old_batches)}.compact"
    w = Window.partitionBy(id_col).orderBy(F.col("batch").desc())
    merged = (
        _read_state_untyped(spark, state_dir)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "batch")
    )
    (
        merged.withColumn("batch", F.lit(compact_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(state_dir)
    )
    fs, root = hadoop_fs(spark, state_dir)
    catalog = spark._jvm.org.apache.spark.sql.catalyst.catalog
    for b in old_batches:
        part = root.suffix(
            "/" + catalog.ExternalCatalogUtils.getPartitionPathString("batch", b)
        )
        if fs.exists(part) and not fs.delete(part, True):
            raise IOError(
                f"compact_dedup_state: failed to delete old partition "
                f"batch={b} under {state_dir}; duplicate per-id rows "
                f"would double candidate pairs"
            )
    return compact_id


def compact_minhash_state(spark, state_dir: str) -> str:
    """Compact an update_minhash_state directory (keyed by doc_id)."""
    return _compact_dedup_state(spark, state_dir, "doc_id")


def compact_embedding_state(spark, state_dir: str) -> str:
    """Compact an update_embedding_state directory (keyed by vec_id)."""
    return _compact_dedup_state(spark, state_dir, "vec_id")
