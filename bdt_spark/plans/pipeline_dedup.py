"""Deduplication family: exact/normalized dedup, MinHash LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup, connected components, semantic
clusters, prefix-filter Jaccard, shingle containment, survivors corpus,
incremental snapshots, and the pagerank-over-neardup-graph view.

Split from plans/pipeline.py (round 11) — see that module's docstring for
the family-wide determinism and scale contracts; every query here keeps
its registration name, oracle, and SQL byte-for-byte.
"""


from __future__ import annotations

from pyspark.sql import functions as F

from bdt_spark.plans.registry import query, sql_query
from bdt_spark.sources.io import fanned_table, load_fixture_tables
from bdt_spark.operators.dedup import (
    K_HASH,
    N_BANDS,
    band_keys_expr,
    minhash_lane_exprs,
    shingle_expr,
)
from bdt_spark.plans._pipecommon import (
    _cos_pre,
    _duck_shingles,
    _norm,
    _shingles,
    _word_stream,
)


JACCARD_T = 0.5     # verification threshold


SIM_BITS = 16       # simhash fingerprint width


def _md5_cols(dialect: str, k_hash: int = K_HASH) -> str:
    """One md5 digest per (shingle row, seed) — computed once per row, in
    relational (exploded) form so no engine re-evaluates the hash per lane."""
    n_seeds = k_hash // 4
    if dialect == "spark":
        return ", ".join(
            f"md5(concat('{i}#', s)) AS m{i}" for i in range(n_seeds)
        )
    return ", ".join(f"md5('{i}#' || s) AS m{i}" for i in range(n_seeds))


def _lane_mins(dialect: str, k_hash: int = K_HASH) -> str:
    """MIN per 8-hex digest lane -> k_hash minhash values. As a grouped
    aggregate this gets map-side partial MINs in Spark — the shuffle
    carries k_hash small strings per doc per partition, not the shingles."""
    fn = "substring" if dialect == "spark" else "substr"
    out = []
    for j in range(k_hash):
        seed, lane = divmod(j, 4)
        out.append(f"MIN({fn}(m{seed}, {lane * 8 + 1}, 8)) AS h{j}")
    return ",\n         ".join(out)


def _band_keys(dialect: str, k_hash: int = K_HASH, n_bands: int = N_BANDS) -> str:
    if dialect == "spark":
        return band_keys_expr(k_hash, n_bands)
    rows = k_hash // n_bands
    parts = []
    for b in range(n_bands):
        sig_cat = " || ".join(f"h{b * rows + r}" for r in range(rows))
        parts.append(f"'b{b}:' || md5({sig_cat})")
    return f"[{', '.join(parts)}]"


def _minhash_lsh_sql(
    dialect: str, k_hash: int = K_HASH, n_bands: int = N_BANDS
) -> str:
    """Full MinHash-LSH near-dup pair detection, one SQL text per dialect,
    generated for any (k_hash, n_bands) geometry from the same template."""
    spark = dialect == "spark"
    shingles = _shingles(dialect)
    bkeys = _band_keys(dialect, k_hash, n_bands)
    explode = f"explode({bkeys})" if spark else f"unnest({bkeys})"
    if spark:
        jac = (
            "ROUND(size(array_intersect(sa.shingles, sb.shingles)) /"
            " CAST(size(array_union(sa.shingles, sb.shingles)) AS DOUBLE), 6)"
        )
    else:
        jac = (
            "ROUND(len(list_intersect(sa.shingles, sb.shingles)) /"
            " CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE), 6)"
        )
    if spark:
        # map-only signatures: per-seed digest arrays via transform, lane
        # mins via array_min — zero shuffle between the scan and the band-
        # bucket exchange (the explode->GROUP BY form pays a doc_id
        # shuffle for the same result; min over identical values)
        digest_exprs, lane_exprs = minhash_lane_exprs(k_hash)
        digests = ", ".join(digest_exprs)
        lanes = ",\n         ".join(lane_exprs)
        sig_ctes = f"""
    digests AS (
      SELECT doc_id, {digests} FROM sh
    ),
    sig AS (
      SELECT doc_id,
         {lanes}
      FROM digests
    ),"""
    else:
        sig_ctes = f"""
    exploded AS (
      SELECT doc_id, unnest(shingles) AS s
      FROM sh
    ),
    hashed AS (
      SELECT doc_id, {_md5_cols(dialect, k_hash)} FROM exploded
    ),
    sig AS (
      SELECT doc_id,
         {_lane_mins(dialect, k_hash)}
      FROM hashed GROUP BY doc_id
    ),"""
    from bdt_spark.operators.dedup import HOT_BUCKET_CAP

    return f"""
    WITH sh AS (
      SELECT doc_id, {shingles} AS shingles FROM documents
    ),{sig_ctes}
    buckets AS (
      SELECT doc_id, {explode} AS bkey FROM sig
    ),
    capped AS (
      -- model the Spark operator's hot-bucket cap (operators/dedup.py):
      -- band buckets with more than HOT_BUCKET_CAP members are dropped
      -- before pairing, so the oracle agrees even when the cap triggers
      SELECT doc_id, bkey FROM buckets
      WHERE bkey NOT IN (
        SELECT bkey FROM buckets GROUP BY bkey
        HAVING COUNT(*) > {HOT_BUCKET_CAP}
      )
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b, {jac} AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM verified
    WHERE jaccard >= {JACCARD_T}
    ORDER BY doc_a, doc_b
    """


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_sql("duck"),
    tags=("dedup", "lsh", "minhash"),
    doc=(
        "Near-duplicate pairs via MinHash LSH: word-3-shingles -> "
        f"{K_HASH}-hash signature (per-lane min of seeded md5 digests) -> "
        f"{N_BANDS} bands -> bucket self-join -> exact-Jaccard verification "
        f"at >= {JACCARD_T}. The shingle and signature DataFrames are "
        "persisted because the DAG reuses them on both sides of the bucket "
        "self-join and the verify join — without it Catalyst recomputes the "
        "shingling 4x (measured 18x slowdown at sf0.1). At 100 TB the same "
        "intermediates go to persist(DISK_ONLY) or a checkpoint table; "
        "everything else is one explode + one partial-agg shuffle on doc_id "
        "+ one shuffle on band keys; verification touches only candidate "
        "pairs, never O(n^2)."
    ),
)
def dedup_minhash_lsh(spark, sf_dir):
    # canonical implementation lives in operators/dedup.py (parameterized
    # by column names so the CLI can dedup any table); this query pins its
    # semantics to the DuckDB oracle on the fixture documents table
    from bdt_spark.operators.dedup import minhash_pairs

    load_fixture_tables(spark, sf_dir)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return minhash_pairs(
        fanned_table(spark, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=JACCARD_T,
        n_partitions=n_part,
    )


@query(
    "dedup_minhash_lsh_k64",
    oracle=_minhash_lsh_sql("duck", 64, 16),
    tags=("dedup", "lsh", "minhash"),
    doc=(
        "dedup_minhash_lsh at the PRODUCTION geometry: 64-hash signatures "
        "in 16 bands of 4 rows (S-curve threshold (1/16)^(1/4) ~ 0.5, "
        "matching the verify threshold; per-pair collision estimator sd "
        "~ sqrt(J(1-J)/64) ~ 0.06 vs the toy 8-hash geometry's 0.18). "
        "The toy geometry stays as the fast default query; this one pins "
        "the parameterized operator (operators/dedup.py minhash_pairs "
        "k_hash/n_bands) against an oracle GENERATED FROM THE SAME "
        "TEMPLATE at 64/16 — closing the gap where production geometry "
        "was property-tested but never hash-oracled."
    ),
)
def dedup_minhash_lsh_k64(spark, sf_dir):
    from bdt_spark.operators.dedup import minhash_pairs

    load_fixture_tables(spark, sf_dir)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return minhash_pairs(
        fanned_table(spark, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=JACCARD_T,
        n_partitions=n_part,
        k_hash=64,
        n_bands=16,
    )


# --- exact dedup ------------------------------------------------------------

sql_query(
    "dedup_exact_text",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
           MIN(doc_id) AS keep_doc_id
    FROM corpus
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    ORDER BY text_hash
    """,
    tags=("dedup", "exact"),
    doc="Exact dedup: hash-groupBy on md5(text); survivors = MIN(doc_id). "
    "Map-side partial agg then one shuffle on the hash — the canonical "
    "exact-dedup plan at any scale. The sf0.01 fixture is duplicate-free "
    "(500 unique texts), which made the original query vacuously empty; "
    "the corpus CTE re-inserts every 25th doc under a shifted id so the "
    "HAVING>1 groups and MIN-survivor logic are exercised with a "
    "deterministic 20-group result at the driver's sf.",
)


_NORM_DEDUP_CORPUS = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, upper(text) || '!!' AS text
      FROM documents WHERE doc_id % 25 = 3
    )
"""


sql_query(
    "dedup_exact_normalized",
    f"""
    WITH {_NORM_DEDUP_CORPUS}
    SELECT norm_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc_id
    FROM (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '')) AS norm_hash
      FROM corpus) t
    GROUP BY norm_hash
    HAVING COUNT(*) > 1
    ORDER BY norm_hash
    """,
    oracle=f"""
    WITH {_NORM_DEDUP_CORPUS}
    SELECT norm_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc_id
    FROM (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm_hash
      FROM corpus) t
    GROUP BY norm_hash
    HAVING COUNT(*) > 1
    ORDER BY norm_hash
    """,
    tags=("dedup", "exact"),
    doc="Exact dedup after lowercase+strip-punctuation normalization. The "
    "injected copies are UPPERCASED with trailing punctuation, so they "
    "collide ONLY under normalization (dedup_exact_text's raw-hash query "
    "does not see them) — the pair of queries discriminates raw-vs-"
    "normalized semantics on a fixture that is otherwise duplicate-free "
    "at sf<=0.01.",
)


# --- simhash ----------------------------------------------------------------


def _simhash_sql(dialect: str) -> str:
    spark = dialect == "spark"
    if spark:
        hexint = "CAST(CONV(SUBSTR(MD5(word), 1, 8), 16, 10) AS BIGINT)"
        shift = lambda b: f"(SHIFTRIGHT(hv, {b}) & 1)"  # noqa: E731
    else:
        hexint = "CAST('0x' || SUBSTR(MD5(word), 1, 8) AS BIGINT)"
        shift = lambda b: f"((hv >> {b}) & 1)"  # noqa: E731
    explode = _word_stream(dialect)
    # votes are weighted by per-doc word count: hashing DISTINCT (doc, word)
    # pairs instead of every occurrence cuts the md5+conv work and the rows
    # entering the 16-column vote aggregate by the repetition factor
    # (identical result; measured 2.6x cold at sf0.1)
    votes = ",\n             ".join(
        f"SUM(n * CASE WHEN {shift(b)} = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIM_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIM_BITS)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, {explode} AS word FROM documents
    ),
    wc AS (
      SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY doc_id, word
    ),
    h AS (
      SELECT doc_id, n, {hexint} AS hv FROM wc
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM h GROUP BY doc_id
    )
    SELECT CAST({fp} AS BIGINT) AS simhash,
           COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    FROM votes
    GROUP BY 1
    HAVING COUNT(*) > 1
    ORDER BY simhash
    """


sql_query(
    "dedup_simhash",
    _simhash_sql("spark"),
    oracle=_simhash_sql("duck"),
    tags=("dedup", "simhash"),
    doc=f"{SIM_BITS}-bit SimHash fingerprint (md5-derived bit votes over "
    "words); groups sharing a fingerprint are near-dup clusters. One narrow "
    "shuffle on doc_id, one on the fingerprint.",
)


# --- n-gram Jaccard (blocked pairwise) --------------------------------------


def _ngram_jaccard_sql(dialect: str) -> str:
    spark = dialect == "spark"
    shingles = _shingles(dialect)
    if spark:
        jac = (
            "ROUND(size(array_intersect(a.shingles, b.shingles)) /"
            " CAST(size(array_union(a.shingles, b.shingles)) AS DOUBLE), 6)"
        )
    else:
        jac = (
            "ROUND(len(list_intersect(a.shingles, b.shingles)) /"
            " CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE), 6)"
        )
    return f"""
    WITH sh AS (
      SELECT doc_id, lang, {shingles} AS shingles
      FROM documents WHERE doc_id < 2000
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS jaccard
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM pairs
    WHERE jaccard >= 0.2
    ORDER BY doc_a, doc_b
    """


sql_query(
    "dedup_ngram_jaccard",
    _ngram_jaccard_sql("spark"),
    oracle=_ngram_jaccard_sql("duck"),
    tags=("dedup", "jaccard"),
    doc="Blocked pairwise 3-gram Jaccard (block = lang). The O(n^2) stays "
    "inside blocks; at scale the MinHash-LSH query supplies candidates "
    "instead of the block cross-join. The doc_id cut (2000) covers the "
    "whole sf0.01 corpus — the fixture's 6 genuine near-dup pairs all "
    "survive the 0.2 threshold (the previous <200 cut excluded every one, "
    "leaving a vacuous empty oracle) — while still bounding the in-block "
    "pair count at larger sf.",
)


# --- sparse sign-LSH geometry for corpus-wide near-dup ----------------------
#
# The 4-dense-plane bucketing below (_plane_bucket_expr, 16 buckets) is the
# right shape for PROBE-style ANN (a handful of query vectors against one
# bucket each) but is hopeless as a corpus-wide near-dup blocker: 16 buckets
# over a 210k-vector sf10 corpus puts ~13k vectors in every bucket and the
# bucket self-join is quadratic again. Corpus-wide candidate generation
# needs a bucket space that GROWS with the corpus: NEARDUP_PLANES sign bits
# per band (2^24 buckets) x NEARDUP_BANDS independent bands (OR-construction
# for recall). Planes are SPARSE +/-1 hyperplanes (Achlioptas-style random
# projections: density 8/64): each plane dot is 8 adds of directly-indexed
# array elements — a flat, codegen-friendly arithmetic expression in both
# engines, no higher-order-function lambda per element (the HOF fold cost
# is what made dense per-plane dots the dominant term at sf10).
# Measured on the sf10 corpus (210k vectors, tools/gen_scale.py replication):
# candidate precision 0.998 at r=24, injected-near-dup recall 0.99+ with 2
# bands at per-plane sign agreement 0.99.

from bdt_spark.operators.dedup import (  # noqa: E402 — geometry lives
    # with the operator; BOTH dialects' SQL below is generated from the
    # same plane table the Spark operator uses, so they cannot drift
    NEARDUP_BANDS,
    NEARDUP_NNZ,
    NEARDUP_PLANES,
    NEARDUP_RUNGS,
    NEARDUP_WINDOW,
    sparse_band_bucket_sql,
    sparse_planes,
)


# back-compat aliases (tests and older call sites)
_sparse_planes = sparse_planes


def _sparse_band_bucket(dialect: str, band_planes) -> str:
    return sparse_band_bucket_sql(
        band_planes, "embedding", one_based=dialect != "spark"
    )


def _cosine_neardup_sql(dialect: str = "duck") -> str:
    """DuckDB ORACLE for corpus-wide embedding near-dup via sparse
    sign-LSH buckets + an in-bucket spanning window — the plan that
    survives 100x. The SPARK side is operators/dedup.py
    embedding_neardup_pairs (plus the _NEARDUP_CORPUS_SPARK injection);
    this text is generated from the SAME plane table and geometry
    constants, so the two cannot drift. `dialect` is retained for the
    callers' clarity but only "duck" is supported now that the Spark
    side is the operator.

    Earlier rounds blocked on `label` and ran all-pairs inside each block:
    O(n^2) on a skewed label, and the sf10 corpus (100 near-identical
    replicas per source vector) made even the TRUE pair list quadratic —
    ~11M pairs of C(100,2) cliques. Near-dup DEDUP doesn't need the
    exhaustive pair list, it needs a pair set that (a) contains only
    verified near-dups and (b) SPANS every near-dup group so connected
    components are preserved. So: bucket on NEARDUP_BANDS independent
    24-bit sparse sign-LSH keys, then pair each bucket member with at most
    NEARDUP_WINDOW in-bucket predecessors (by vec_id rank). A k-clique
    that lands in one bucket yields a connected chain of k-1+ verified
    edges instead of C(k,2); total candidates are <= n * bands * window —
    LINEAR in corpus size with no skew sensitivity, and the hot-bucket cap
    (shared with MinHash-LSH) still bounds any adversarial bucket.
    Verified geometry on the sf10 corpus: candidate precision 0.998,
    injected-pair recall 0.99+."""
    if dialect != "duck":
        raise ValueError(
            "spark dialect removed: the Spark side is "
            "operators/dedup.py embedding_neardup_pairs"
        )
    cos = _cos_pre(dialect, "a.embedding", "b.embedding", "a.nrm", "b.nrm")
    # The fixture's max organic pair cosine is ~0.475 at sf0.01, so a 0.9
    # near-dup threshold was vacuously empty at the driver's sf. The
    # injected rows re-insert every 20th vector with even-index dims
    # scaled by 1.1 — cosine vs the source lands at ~0.9989 (non-trivial:
    # direction changes, so the query must actually normalize), while
    # injected-vs-other pairs stay far below threshold. Deterministic
    # double arithmetic; _NEARDUP_CORPUS_SPARK is the Spark-dialect twin
    # of this injection (kept textually adjacent via the registration
    # below so an edit to one is visibly an edit to both).
    perturbed = (
        "list_transform(range(1, len(embedding) + 1), i ->"
        " CASE WHEN (i - 1) % 2 = 0 THEN CAST(embedding[i] AS DOUBLE)"
        " * 1.1 ELSE CAST(embedding[i] AS DOUBLE) END)"
    )
    planes = _sparse_planes(NEARDUP_BANDS * NEARDUP_PLANES)
    band_cols = ", ".join(
        f"{_sparse_band_bucket(dialect, planes[b * NEARDUP_PLANES:(b + 1) * NEARDUP_PLANES])}"
        f" AS bucket{b}"
        for b in range(NEARDUP_BANDS)
    )
    # band b's keys are disambiguated into one BIGINT space: b * 2^P + key
    band_union = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {b} * {1 << NEARDUP_PLANES} + bucket{b} AS bkey"
        " FROM v"
        for b in range(NEARDUP_BANDS)
    )
    from bdt_spark.operators.dedup import HOT_BUCKET_CAP

    return f"""
    WITH corpus AS (
      SELECT vec_id, label, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, label, {perturbed} AS embedding
      FROM embeddings WHERE vec_id % 20 = 0
    ),
    v AS (
      SELECT vec_id, embedding,
             {_norm(dialect, "embedding")} AS nrm,
             {band_cols}
      FROM corpus
    ),
    buckets AS (
{band_union}
    ),
    capped AS (
      -- same hot-bucket cap as MinHash-LSH (operators/dedup.py), modeled
      -- here so the oracle agrees when the cap triggers
      SELECT vec_id, bkey FROM buckets
      WHERE bkey NOT IN (
        SELECT bkey FROM buckets GROUP BY bkey
        HAVING COUNT(*) > {HOT_BUCKET_CAP}
      )
    ),
    ranked AS (
      SELECT vec_id, bkey,
             ROW_NUMBER() OVER (PARTITION BY bkey ORDER BY vec_id) AS rk
      FROM capped
    ),
    cand AS (
      -- spanning window + log rungs: each member pairs with <=
      -- {NEARDUP_WINDOW} contiguous in-bucket predecessors (keeps any
      -- <= {NEARDUP_WINDOW}-way interleaved clique connected) PLUS the
      -- rungs at rank distances 16*k, k=1..{NEARDUP_WINDOW}: under any
      -- k-way round-robin interleave (k <= {NEARDUP_WINDOW}) the 16*k
      -- rung is an in-clique 16-member jump, so the component diameter
      -- stays ~members/16 and the min-label loop and recursive-CTE
      -- oracle converge in a handful of iterations on 100-replica
      -- cliques. Still <= {NEARDUP_WINDOW} + {len(NEARDUP_RUNGS)}
      -- candidates per member — LINEAR in corpus size
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM ranked a JOIN ranked b
        ON a.bkey = b.bkey
       AND b.rk > a.rk
       AND (b.rk - a.rk <= {NEARDUP_WINDOW}
            OR b.rk - a.rk IN ({", ".join(str(r) for r in NEARDUP_RUNGS)}))
    ),
    pairs AS (
      SELECT c.vec_a, c.vec_b, ROUND({cos}, 6) AS cos_sim
      FROM cand c
      JOIN v a ON a.vec_id = c.vec_a
      JOIN v b ON b.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs
    WHERE cos_sim >= 0.9
    ORDER BY vec_a, vec_b
    """


_NEARDUP_CORPUS_SPARK = """
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           transform(embedding, (x, i) -> CASE WHEN i % 2 = 0 THEN
             CAST(x AS DOUBLE) * 1.1 ELSE CAST(x AS DOUBLE) END) AS embedding
    FROM embeddings WHERE vec_id % 20 = 0
"""


@query(
    "dedup_embedding_cosine",
    oracle=_cosine_neardup_sql("duck"),
    tags=("dedup", "embedding", "cosine", "lsh"),
    doc="Embedding near-dup pairs >= 0.9 cosine via sparse sign-LSH "
    f"buckets ({NEARDUP_BANDS} bands x {NEARDUP_PLANES}-bit keys) and an "
    f"in-bucket spanning window ({NEARDUP_WINDOW} predecessors/member): "
    "candidate count is linear in corpus size regardless of label skew or "
    "replica-clique size, every emitted pair is exact-cosine verified, and "
    "the pair set spans each bucket-coherent near-dup group so downstream "
    "connected components (dedup_semantic_clusters) are preserved. "
    "Replaces the r6 label-blocked all-pairs form whose in-block O(n^2) "
    "could not survive a skewed label at 100x. Spark side = the canonical "
    "operators/dedup.py embedding_neardup_pairs (persisted single "
    "materialization of the bucketed projection — the SQL-CTE form "
    "re-planned that subtree per consumer, ~45 exchanges at sf0.1); the "
    "DuckDB oracle is generated from the SAME plane table and geometry "
    "constants, so operator and oracle cannot drift.",
)
def dedup_embedding_cosine(spark, sf_dir):
    from bdt_spark.operators.dedup import embedding_neardup_pairs

    load_fixture_tables(spark, sf_dir)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    corpus = spark.sql(_NEARDUP_CORPUS_SPARK)
    return embedding_neardup_pairs(corpus, n_partitions=n_part)


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the LSH pair graph
# ---------------------------------------------------------------------------


def _cc_oracle_sql() -> str:
    """DuckDB oracle: recursive CTE propagating ids across the undirected
    pair graph; MIN over everything reachable = component id. (Spark has no
    recursive CTEs — its side is the iterative label-propagation loop.)"""
    pair_sql = _minhash_lsh_sql("duck")
    return f"""
    WITH RECURSIVE pairs AS (
      {pair_sql}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, seen) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.seen FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT MIN(seen) AS cluster_id, node AS doc_id
    FROM reach
    GROUP BY node
    ORDER BY cluster_id, doc_id
    """


def _semantic_cc_oracle_sql() -> str:
    """Same recursive-CTE component oracle over the COSINE pair graph."""
    pair_sql = _cosine_neardup_sql("duck")
    return f"""
    WITH RECURSIVE pairs AS (
      {pair_sql}
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION ALL
      SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    reach(node, seen) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.seen FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT MIN(seen) AS cluster_id, node AS vec_id
    FROM reach
    GROUP BY node
    ORDER BY cluster_id, vec_id
    """


@query(
    "dedup_semantic_clusters",
    oracle=_semantic_cc_oracle_sql(),
    tags=("dedup", "embedding", "graph", "iterative"),
    doc="SEMANTIC near-dup clusters: connected components over the "
    "sign-LSH-bucketed cosine>=0.9 pair graph — the embedding-space "
    "counterpart of dedup_connected_components, reusing the same "
    "operators/graph.py loop on a different edge source (the operator "
    "composes over any pair list). The edge source's spanning-window "
    "candidate generation keeps edges LINEAR in corpus size while "
    "spanning every bucket-coherent near-dup group, so the component "
    "assignment equals the exhaustive-pair answer on replica cliques at "
    "a fraction of the edges. Oracle = DuckDB recursive CTE.",
)
def dedup_semantic_clusters(spark, sf_dir):
    from bdt_spark.operators.cacheutil import (
        drop_checkpoint_blocks,
        release,
        transfer_ownership,
    )
    from bdt_spark.operators.graph import connected_components

    src_pairs = dedup_embedding_cosine(spark, sf_dir)
    pairs = src_pairs.select("vec_a", "vec_b")
    # Truncate lineage at the operator boundary: the pair output is
    # already persisted AND materialized, but its logical plan still
    # carries the 48 unrolled plane-bucket expression trees + the 64-term
    # cosine chain. The iterative loop below re-embeds that subtree in
    # every per-iteration plan; at sf10 (~15-30 iterations) the resulting
    # EXPLAIN string grows to gigabytes and OOMs the driver inside
    # QueryExecution.explainString (event-listener plan rendering).
    # localCheckpoint replaces the whole subtree with an RDD-scan leaf —
    # cheap here because the rows are already computed and cached.
    pairs = pairs.localCheckpoint(eager=True)
    # the checkpoint holds its own copy of the rows: drop the operator's
    # persisted cache so the session doesn't carry both (2M rows at sf10)
    release(src_pairs)
    # max_iters: convergence needs <= graph diameter rounds. The 16*k
    # rungs give a 16-member in-clique jump under ANY k-way interleave up
    # to the window size, so diameter ~ members/16 (+ a window tail):
    # 64 covers cliques to ~900 members at <= 8-way interleave. The two
    # overrun modes differ: a >900-member clique exceeds the diameter
    # budget and the CC loop FAILS LOUDLY (max_iters); a >8-way
    # round-robin interleave yields rank distances sharing no rung, so
    # those cliques get ZERO in-bucket candidate edges and recall
    # degrades SILENTLY (the docs appear as singletons — undetectable at
    # runtime without ground truth, and the DuckDB oracle shares the
    # geometry so the hash-compare cannot catch it either). The recall
    # floor against >8-way interleaves is pinned instead by
    # tests/test_dedup_ops.py::test_rungs_cover_every_interleave_factor
    # geometry checks; corpora expected to pack more than 8 near-dup
    # cliques per LSH bucket should raise NEARDUP_WINDOW.
    cc = connected_components(pairs, "vec_a", "vec_b", max_iters=64)
    out = cc.select("cluster_id", F.col("node").alias("vec_id")).orderBy(
        "cluster_id", "vec_id"
    )
    # caller-owned: the CC label cache/checkpoints (annotated on cc) plus
    # the pair checkpoint above, which stays in the result's recompute
    # lineage — cacheutil.release(result) frees everything at end of life
    return transfer_ownership(
        out, cc, lambda: drop_checkpoint_blocks(pairs)
    )


@query(
    "dedup_connected_components",
    oracle=_cc_oracle_sql(),
    tags=("dedup", "graph", "iterative"),
    doc="Near-dup CLUSTERS (not just pairs): iterative min-label "
    "propagation over the MinHash-LSH pair graph until fixpoint — the "
    "connected-components step a production dedup pipeline runs to pick "
    "one survivor per duplicate group. Each iteration is one distributed "
    "join + min-aggregate; iterations are bounded by the graph diameter "
    "(dup clusters are tiny, so 2-4 in practice). Oracle uses DuckDB's "
    "recursive CTE, which Spark lacks.",
)
def dedup_connected_components(spark, sf_dir):
    # loop lives in operators/graph.py (periodic lineage checkpointing,
    # reusable on any pair list); this query pins it to the oracle
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.operators.graph import connected_components

    src = dedup_minhash_lsh(spark, sf_dir)
    cc = connected_components(
        src.select("doc_a", "doc_b"), "doc_a", "doc_b"
    )
    out = cc.select("cluster_id", F.col("node").alias("doc_id")).orderBy(
        "cluster_id", "doc_id"
    )
    # caller-owned: the CC label cache (annotated on cc) plus the pair
    # source, which may itself be persisted on minhash's eager path
    return transfer_ownership(out, cc, src)


def _survivors_oracle_sql() -> str:
    """Deduped corpus: drop every clustered doc except its cluster's MIN."""
    cc = _cc_oracle_sql()
    return f"""
    WITH clusters AS (
      {cc.replace("ORDER BY cluster_id, doc_id", "")}
    ),
    losers AS (
      SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
    )
    SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    LEFT JOIN losers l ON d.doc_id = l.doc_id
    WHERE l.doc_id IS NULL AND d.doc_id < 120
    ORDER BY d.doc_id
    """


@query(
    "dedup_survivors_corpus",
    oracle=_survivors_oracle_sql(),
    tags=("dedup", "survivors", "end-to-end"),
    doc="The dedup END PRODUCT: the corpus with every near-dup cluster "
    "reduced to its MIN-doc_id survivor. Composes MinHash-LSH pairs -> "
    "connected components -> anti join of non-survivors against the "
    "corpus (broadcast: the loser set is tiny relative to the corpus). "
    "This is the table a training run actually reads.",
)
def dedup_survivors_corpus(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership

    clusters = dedup_connected_components(spark, sf_dir)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    t = load_fixture_tables(spark, sf_dir)
    out = (
        t["documents"]
        .join(F.broadcast(losers), "doc_id", "left_anti")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )
    return transfer_ownership(out, clusters)


def _pagerank_sql(dialect: str, n_iters: int = 3) -> str:
    """Damped PageRank over the near-dup pair graph, iterations unrolled
    as plain CTEs (identical algebra both engines; messages decimal-cast
    so neighbor-sum order is moot)."""
    pair_sql = _minhash_lsh_sql(dialect)
    blocks = [
        f"""pairs AS (
      {pair_sql}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (
      SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src
    ),
    r0 AS (
      SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM edges
    )"""
    ]
    for i in range(1, n_iters + 1):
        blocks.append(f"""m{i} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(r.rank / deg.d AS DECIMAL(30,15))) AS DOUBLE)
               AS msum
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT r0.node, 0.15 + 0.85 * COALESCE(m{i}.msum, 0.0) AS rank
      FROM r0 LEFT JOIN m{i} ON r0.node = m{i}.node
    )""")
    ctes = ",\n    ".join(blocks)
    return f"""
    WITH {ctes}
    SELECT node AS doc_id, ROUND(rank, 6) AS pagerank
    FROM r{n_iters}
    ORDER BY doc_id
    """


sql_query(
    "graph_pagerank_neardup",
    _pagerank_sql("spark"),
    oracle=_pagerank_sql("duck"),
    tags=("graph", "pagerank", "iterative"),
    doc="Damped PageRank (3 unrolled iterations) over the MinHash near-"
    "dup graph — the central-document signal inside duplicate clusters. "
    "Each iteration is one join + one decimal-summed aggregate on the "
    "edge list (LSH-bounded, not corpus-sized); unrolling keeps the "
    "whole thing one declarative plan on both engines.",
)


# --- round 9: incremental dedup, corpus IDF, cohort retention ---------------

sql_query(
    "dedup_incremental_snapshot",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    fingerprints AS (
      SELECT md5(text) AS text_hash, MIN(doc_id) AS corpus_doc_id
      FROM corpus
      GROUP BY md5(text)
    )
    SELECT i.doc_id AS incoming_doc_id, f.corpus_doc_id, f.text_hash
    FROM incoming i
    JOIN fingerprints f ON md5(i.text) = f.text_hash
    ORDER BY incoming_doc_id
    """,
    tags=("dedup", "exact", "incremental"),
    doc="Incremental dedup — the production shape: a NEW batch is deduped "
    "against an EXISTING corpus snapshot rather than against itself. The "
    "corpus side reduces to a compact (hash, min_doc_id) fingerprint "
    "table (one partial+final agg shuffle over hashes only, never text), "
    "then the incoming batch equi-joins it on md5 — at 100 TB the "
    "fingerprint table is the only state carried between ingest runs and "
    "is orders of magnitude smaller than the corpus; the incoming side "
    "is map-only until the hash join. The fixture is duplicate-free, so "
    "the injected every-10th corpus copies (shifted ids) are exactly the "
    "matches; common-subset SQL, oracle is the same text.",
)


def _incremental_minhash_sql(
    dialect: str,
    k_hash: int = K_HASH,
    n_bands: int = N_BANDS,
    width: int = 32,
) -> str:
    """Incremental NEAR-dup: a new batch probes the persisted corpus
    band-bucket state; verification is signature lane agreement (the
    state carries signatures, never text). One SQL text per dialect,
    modeling operators/dedup.update_minhash_state +
    incremental_minhash_candidates (pinned row-identical in
    tests/test_dedup_ops.py)."""
    spark = dialect == "spark"
    shingles = _shingles(dialect)
    bkeys = _band_keys(dialect, k_hash, n_bands)
    explode = f"explode({bkeys})" if spark else f"unnest({bkeys})"
    from bdt_spark.operators.dedup import HOT_BUCKET_CAP

    def sig_ctes(src: str, p: str) -> str:
        if spark:
            digests = ", ".join(
                f"transform(shingles, s -> md5(concat('{i}#', s))) AS d{i}"
                for i in range(k_hash // 4)
            )
            lanes = ",\n         ".join(
                f"array_min(transform(d{j // 4}, x -> substring(x,"
                f" {(j % 4) * 8 + 1}, 8))) AS h{j}"
                for j in range(k_hash)
            )
            # REPARTITION above the signature projection: each sig CTE
            # is inlined into TWO consumers (bucket explode + lane-
            # agreement verify), so without the exchange the md5
            # signature CPU — the operator's dominant cost — runs
            # twice; the hint makes it a ReusedExchange computed once
            # (~100 B/doc shuffled). Measured sf10: 35.7 -> 19.4 s.
            # `width` is derived from the documents scan bytes at call
            # time (io.exchange_width_for_bytes) — an explicit-width
            # exchange is AQE-exempt, so a literal here was the r14
            # verdict's one coded-in 100x bottleneck. Keyed by doc_id
            # (r16, guide §2.4/§2.5): the keyless form was round-robin —
            # it paid the SPARK-23207 determinism sort over the full
            # signature rows AND left the verify joins (ON doc_id)
            # needing their own full-width exchanges of both sig
            # tables; hashpartitioning(doc_id) satisfies those joins'
            # distribution, so the signature streams shuffle once.
            return f"""
    {p}sh AS (SELECT doc_id, {shingles} AS shingles FROM {src}),
    {p}dig AS (SELECT doc_id, {digests} FROM {p}sh),
    {p}sig AS (SELECT /*+ REPARTITION({width}, doc_id) */ doc_id,
         {lanes}
      FROM {p}dig)"""
        return f"""
    {p}sh AS (SELECT doc_id, {shingles} AS shingles FROM {src}),
    {p}ex AS (SELECT doc_id, unnest(shingles) AS s FROM {p}sh),
    {p}h AS (SELECT doc_id, {_md5_cols(dialect, k_hash)} FROM {p}ex),
    {p}sig AS (SELECT doc_id,
         {_lane_mins(dialect, k_hash)}
      FROM {p}h GROUP BY doc_id)"""

    agree = " + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(k_hash)
    )
    # Spark side: every relation in the probe/verify joins is either
    # explode-derived (bucket tables — Generate output, whose static
    # estimate is the known column-ratio lie) or corpus-derived (sig
    # tables, candidate set), so NO side may be statically broadcast:
    # pin MERGE and let AQE demote to broadcast from TRUE runtime sizes
    # (the q21 doctrine; caught by the repo-wide
    # broadcast-over-Generate audit when this query first landed
    # unhinted).
    cand_hint = "/*+ MERGE(i), MERGE(c) */ " if spark else ""
    est_hint = "/*+ MERGE(a), MERGE(b) */ " if spark else ""
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),{sig_ctes("corpus", "c")},{sig_ctes("incoming", "i")},
    state AS (
      SELECT doc_id, {explode} AS bkey FROM csig
    ),
    capped AS (
      -- hot-bucket cap over the STATE side, the minhash_pairs doctrine
      -- applied to the incremental probe
      SELECT doc_id, bkey FROM state
      WHERE bkey NOT IN (
        SELECT bkey FROM state GROUP BY bkey
        HAVING COUNT(*) > {HOT_BUCKET_CAP}
      )
    ),
    ibuck AS (
      SELECT doc_id, {explode} AS bkey FROM isig
    ),
    cand AS (
      SELECT {cand_hint}DISTINCT
             i.doc_id AS incoming_doc_id, c.doc_id AS corpus_doc_id
      FROM ibuck i JOIN capped c ON i.bkey = c.bkey
    ),
    est AS (
      SELECT {est_hint}incoming_doc_id, corpus_doc_id,
             ROUND(({agree}) / CAST({k_hash} AS DOUBLE), 6) AS est_jaccard
      FROM cand
      JOIN isig a ON a.doc_id = incoming_doc_id
      JOIN csig b ON b.doc_id = corpus_doc_id
    )
    SELECT incoming_doc_id, corpus_doc_id, est_jaccard
    FROM est WHERE est_jaccard >= {JACCARD_T}
    ORDER BY incoming_doc_id, corpus_doc_id
    """


@query(
    "dedup_incremental_minhash",
    oracle=_incremental_minhash_sql("duck"),
    tags=("dedup", "minhash", "incremental", "lsh"),
    doc="Incremental NEAR-dup dedup (VERDICT r13 #6) — the production "
    "ingest shape dedup_incremental_snapshot covers only exactly: a NEW "
    "batch (odd doc_ids + every-10th corpus copies under shifted ids) "
    "probes the EXISTING corpus's persisted band-bucket state. The "
    "corpus side reduces once to (doc_id, signature, band keys) — "
    "O(docs x k) small strings, no text — then each ingest batch "
    "computes its signatures MAP-ONLY and equi-joins the state's bucket "
    "table; candidate verification is signature lane agreement, so no "
    "second corpus pass ever happens. The exact copies surface at "
    "est_jaccard 1.0; state buckets above the hot-bucket cap are "
    "dropped exactly as in dedup_minhash_lsh. The cross-run persistent "
    "analog (hive-partitioned, replay-idempotent batch state) is "
    "operators/dedup.update_minhash_state / "
    "incremental_minhash_candidates, pinned row-identical to this "
    "oracled plan in tests/test_dedup_ops.py. The sig-CTE exchange "
    "width is derived from exact documents scan bytes at call time "
    "(io.exchange_width_for_bytes — VERDICT r14 #1: the fixed 32 was "
    "an AQE-exempt coded bottleneck at the 100 TB design point).",
)
def dedup_incremental_minhash(spark, sf_dir):
    from bdt_spark.sources.io import (
        exchange_width_for_bytes,
        plan_scan_bytes,
    )

    load_fixture_tables(spark, sf_dir)
    w = exchange_width_for_bytes(plan_scan_bytes(spark.table("documents")))
    return spark.sql(_incremental_minhash_sql("spark", width=w))


def _incremental_embedding_sql(
    dialect: str, exchange: bool = False, width: int = 32
) -> str:
    """Incremental EMBEDDING near-dup: a new vector batch probes the
    corpus's persisted sign-LSH bucket index; candidates verify by exact
    cosine. Both dialects generated from the operator's own plane table
    (operators/dedup.update_embedding_state /
    incremental_embedding_candidates — pinned row-identical in
    tests/test_dedup_ops.py)."""
    spark = dialect == "spark"
    if spark:
        perturbed = (
            "transform(embedding, (x, i) -> CASE WHEN i % 2 = 0 THEN"
            " CAST(x AS DOUBLE) * 1.1 ELSE CAST(x AS DOUBLE) END)"
        )
    else:
        perturbed = (
            "list_transform(range(1, len(embedding) + 1), i ->"
            " CASE WHEN (i - 1) % 2 = 0 THEN CAST(embedding[i] AS DOUBLE)"
            " * 1.1 ELSE CAST(embedding[i] AS DOUBLE) END)"
        )
    planes = _sparse_planes(NEARDUP_BANDS * NEARDUP_PLANES)
    band_cols = ", ".join(
        f"{_sparse_band_bucket(dialect, planes[b * NEARDUP_PLANES:(b + 1) * NEARDUP_PLANES])}"
        f" AS bucket{b}"
        for b in range(NEARDUP_BANDS)
    )

    def band_union(src: str) -> str:
        if spark:
            # single-pass bucket emission (r16, guide §2.4): the UNION
            # ALL form read `src` once per band — on the bare arm that
            # recomputes the 48 sparse-plane dots per band, on the
            # exchange arm it still adds a plan branch per band.
            # posexplode emits both band keys in one pass (pos = band
            # index supplies the offset term).
            arr = ", ".join(f"bucket{b}" for b in range(NEARDUP_BANDS))
            return (
                f"      SELECT vec_id, pos * {1 << NEARDUP_PLANES} + bucket"
                f" AS bkey\n      FROM {src}"
                f" LATERAL VIEW POSEXPLODE(array({arr})) t AS pos, bucket"
            )
        return "\n      UNION ALL\n".join(
            f"      SELECT vec_id, {b} * {1 << NEARDUP_PLANES} + bucket{b}"
            f" AS bkey FROM {src}"
            for b in range(NEARDUP_BANDS)
        )

    cos = _cos_pre(dialect, "a.embedding", "b.embedding", "a.nrm", "b.nrm")
    from bdt_spark.operators.dedup import HOT_BUCKET_CAP

    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
    ),
    incoming AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, {perturbed} AS embedding
      FROM embeddings WHERE vec_id % 20 = 0
    ),
    cv AS (
      -- `exchange` arm (spark, size-gated at registration): cv/iv
      -- inline into multiple consumers (bucket explode + the cosine
      -- verify), so the 48 sparse-plane dots + norm would compute per
      -- consumer; a REPARTITION above the bucketed projection makes
      -- them a ReusedExchange computed once. The exchange is FIXED
      -- overhead, the recompute saving PROPORTIONAL to corpus size, so
      -- small corpora keep the bare plan (measured: sf100 28.8 ->
      -- 24.4 s with the exchange; sf0.1 ~1 s slower with it). Keyed by
      -- vec_id (r16): round-robin paid the SPARK-23207 determinism
      -- sort AND left the verify joins (ON vec_id) needing their own
      -- full-width exchanges of cv/iv; hashpartitioning(vec_id)
      -- satisfies the joins' distribution, so the corpus-sized sides
      -- shuffle once total.
      SELECT {f"/*+ REPARTITION({width}, vec_id) */ " if exchange else ""}vec_id,
             embedding, {_norm(dialect, "embedding")} AS nrm,
             {band_cols}
      FROM corpus
    ),
    iv AS (
      SELECT {f"/*+ REPARTITION({width}, vec_id) */ " if exchange else ""}vec_id,
             embedding, {_norm(dialect, "embedding")} AS nrm,
             {band_cols}
      FROM incoming
    ),
    state AS (
{band_union("cv")}
    ),
    capped AS (
      SELECT vec_id, bkey FROM state
      WHERE bkey NOT IN (
        SELECT bkey FROM state GROUP BY bkey
        HAVING COUNT(*) > {HOT_BUCKET_CAP}
      )
    ),
    ibuck AS (
{band_union("iv")}
    ),
    cand AS (
      SELECT DISTINCT i.vec_id AS incoming_vec_id, c.vec_id AS corpus_vec_id
      FROM ibuck i JOIN capped c ON i.bkey = c.bkey
    ),
    pairs AS (
      SELECT incoming_vec_id, corpus_vec_id, ROUND({cos}, 6) AS cos_sim
      FROM cand
      JOIN iv a ON a.vec_id = incoming_vec_id
      JOIN cv b ON b.vec_id = corpus_vec_id
    )
    SELECT incoming_vec_id, corpus_vec_id, cos_sim
    FROM pairs WHERE cos_sim >= 0.9
    ORDER BY incoming_vec_id, corpus_vec_id
    """


# Embeddings scan bytes above which the cv/iv exchange-reuse arm is
# taken (see the `exchange` comment in _incremental_embedding_sql):
# shares the EAGER_PERSIST_MIN_BYTES doctrine — fixed exchange overhead
# vs corpus-proportional recompute saving. 10 MB sits between sf1
# (1.4 MB, bare wins) and sf10 (11 MB, exchange measured faster).
_INC_EMB_EXCHANGE_MIN_BYTES = 10 << 20
_INC_EMB_SPARK_BARE = _incremental_embedding_sql("spark")


@query(
    "dedup_incremental_embedding",
    oracle=_incremental_embedding_sql("duck"),
    tags=("dedup", "embedding", "incremental", "lsh"),
    doc="Incremental embedding near-dup (r14) — completes the incremental "
    "ingest family (exact fingerprints, MinHash text near-dup, and now "
    "vector near-dup): a new batch (odd vec_ids + every-20th perturbed "
    "corpus copies, cosine ~0.9989 vs their sources) probes the "
    "EXISTING corpus's persisted sign-LSH bucket index "
    f"({NEARDUP_BANDS} bands x {NEARDUP_PLANES}-bit keys from the same "
    "plane table as dedup_embedding_cosine). Batch-side bucketing is "
    "map-only; candidates = incoming buckets equi-joined to the state "
    "bucket table (hot state buckets capped, the shared LSH doctrine); "
    "verification is exact cosine on candidates only. No corpus rescan "
    "per ingest batch — the bucket index IS the carried state. The "
    "cross-run persistent analog (hive-partitioned, replay-idempotent) "
    "is operators/dedup.update_embedding_state / "
    "incremental_embedding_candidates, pinned row-identical in "
    "tests/test_dedup_ops.py. Spark plan is size-gated on exact "
    "embeddings scan bytes: bare below _INC_EMB_EXCHANGE_MIN_BYTES, "
    "cv/iv exchange-reuse above (both arms pinned row-identical in "
    "tests/test_dedup_ops.py).",
)
def dedup_incremental_embedding(spark, sf_dir):
    from bdt_spark.sources.io import (
        exchange_width_for_bytes,
        plan_scan_bytes,
    )

    load_fixture_tables(spark, sf_dir)
    b = plan_scan_bytes(spark.table("embeddings"))
    if b < _INC_EMB_EXCHANGE_MIN_BYTES:
        return spark.sql(_INC_EMB_SPARK_BARE)
    # exchange arm: width from the same exact scan bytes as the gate
    # (VERDICT r14 #1 — a literal width is AQE-exempt)
    return spark.sql(
        _incremental_embedding_sql(
            "spark", exchange=True, width=exchange_width_for_bytes(b)
        )
    )


def _containment_sql(dialect: str) -> str:
    spark = dialect == "spark"
    shingles = _shingles(dialect)
    if spark:
        inter = "size(array_intersect(a.shingles, b.shingles))"
        sz = "size({}.shingles)"
    else:
        inter = "len(list_intersect(a.shingles, b.shingles))"
        sz = "len({}.shingles)"
    return f"""
    WITH sh AS (
      SELECT doc_id, lang, {shingles} AS shingles
      FROM documents WHERE doc_id < 2000
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND({inter} / CAST({sz.format('a')} AS DOUBLE), 6)
               AS containment_a_in_b,
             ROUND({inter} / CAST({sz.format('b')} AS DOUBLE), 6)
               AS containment_b_in_a,
             ROUND({inter} / CAST(LEAST({sz.format('a')},
                                        {sz.format('b')}) AS DOUBLE), 6)
               AS overlap_coeff
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE {sz.format('a')} > 0 AND {sz.format('b')} > 0
    )
    SELECT doc_a, doc_b, containment_a_in_b, containment_b_in_a,
           overlap_coeff
    FROM pairs
    WHERE overlap_coeff >= 0.5
    ORDER BY doc_a, doc_b
    """


sql_query(
    "dedup_shingle_containment",
    _containment_sql("spark"),
    oracle=_containment_sql("duck"),
    tags=("dedup", "containment", "jaccard"),
    doc="ASYMMETRIC shingle containment |A n B| / |A| (plus the overlap "
    "coefficient) — what Jaccard cannot see: a short document quoted "
    "wholesale inside a much longer one scores near-zero Jaccard "
    "(the union is dominated by the long doc) but containment ~1.0 "
    "for the short side; this is the subset-duplication / quote "
    "detector a curation pipeline runs alongside symmetric near-dup. "
    "Shares the 3-gram shingle builders and lang blocking with "
    "dedup_ngram_jaccard (same scale argument: blocks bound the "
    "pair count at fixture scale, MinHash-LSH candidates replace the "
    "block join at corpus scale). Zero-shingle docs excluded before "
    "any division (no NULL/inf divergence). All three measures are "
    "exact integer-ratio arithmetic, identical cross-engine.",
)


def _prefix_filter_spark_sql() -> str:
    sh = shingle_expr()
    # REPARTITION(32) on the docs CTE (ABOVE the shingle projection —
    # deliberately): Spark inlines the CTE per consumer, so without the
    # hint every downstream CTE re-runs the shingle CPU on the 4 tasks
    # the doc_id < 2000 row-group prune leaves (stage profile: 15.2 s
    # wall, 55.9 s executor total, 28 cores idle). The exchange above
    # the projection becomes a ReusedExchange across all inlined
    # consumers — the shingles are computed ONCE and replayed from
    # shuffle data. A/B'd against repartitioning BELOW the projection
    # (parallel shingles but per-consumer recompute): 10.6 vs 11.3 s at
    # sf10. The input is HARD-BOUNDED at 2000 docs at any scale factor,
    # so the exchange moves ~2 MB — unlike the corpus-wide fan-out the
    # r13 parts probe measured as harmful. sf10 15.2 -> 10.6 s; sf0.1
    # neutral; sf1 +0.3 s (the exchange floor, accepted).
    return f"""
    WITH docs AS (
      SELECT /*+ REPARTITION(32) */ doc_id, {sh} AS shingles
      FROM documents WHERE doc_id < 2000
    ),
    tok AS (
      SELECT doc_id, sh
      FROM docs LATERAL VIEW explode(shingles) t AS sh
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY doc_id
    ),
    df AS (
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY sh
    ),
    ordered AS (
      SELECT t.doc_id, t.sh, s.n,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.c, t.sh) AS rn
      FROM tok t
      JOIN df d ON t.sh = d.sh
      JOIN sizes s ON t.doc_id = s.doc_id
    ),
    prefix AS (
      SELECT doc_id, sh FROM ordered
      WHERE rn <= n - (n + 1) DIV 2 + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM cand c
      JOIN tok t1 ON t1.doc_id = c.doc_a
      JOIN tok t2 ON t2.doc_id = c.doc_b AND t2.sh = t1.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE 3 * i.i >= sa.n + sb.n
    ORDER BY doc_a, doc_b
    """


def _prefix_filter_oracle_sql() -> str:
    sh = _duck_shingles()
    return f"""
    WITH docs AS (
      SELECT doc_id, {sh} AS shingles
      FROM documents WHERE doc_id < 2000
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
               AS i,
             CAST(len(a.shingles) AS BIGINT) AS na,
             CAST(len(b.shingles) AS BIGINT) AS nb
      FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
    FROM pairs
    WHERE 3 * i >= na + nb
    ORDER BY doc_a, doc_b
    """


sql_query(
    "dedup_prefix_filter_jaccard",
    _prefix_filter_spark_sql(),
    oracle=_prefix_filter_oracle_sql(),
    tags=("dedup", "jaccard", "prefix-filter"),
    doc="Set-similarity join by PREFIX FILTERING (the ppjoin/AllPairs "
    "family, Xiao et al. / Bayardo et al. — public literature): for "
    "Jaccard >= 0.5, two shingle sets MUST share a token within each "
    "other's (n - ceil(n/2) + 1)-token prefix when tokens are ordered "
    "rarest-first globally — so candidates come from an equi-join of "
    "PREFIXES (short, rare-token lists that collide seldom) instead "
    "of any all-pairs stage, then exact verification keeps true "
    "matches. The threshold test is the integer identity 3i >= na+nb "
    "(division-free). The ORACLE is the DIRECT all-pairs exact "
    "Jaccard join — a structurally different algorithm — so a "
    "hash-match PROVES the filter's completeness on this corpus "
    "(dropping a true pair = instant mismatch), and the 6 fixture "
    "near-dup pairs keep it non-vacuous. Both sides share the "
    "doc_id < 2000 scope: the fixture's ~30-word vocabulary makes "
    "shingle dfs atypically dense, so the demo bounds the corpus "
    "the way dedup_ngram_jaccard does; on natural corpora prefix "
    "dfs are sparse and the prefix join IS the scale path.",
)
