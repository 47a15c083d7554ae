"""Similarity/embedding family: brute-force and LSH/IVF top-k ANN,
recall curves, embedding normalization/centroids, PCA power iteration,
int8 quantization, centroid drift, and the mutual-kNN graph.

Split from plans/pipeline.py (round 11) — registration names, oracles,
and SQL byte-identical to the pre-split module.
"""


from __future__ import annotations

from bdt_spark.plans.registry import query, sql_query
from bdt_spark.sources.io import load_fixture_tables
from bdt_spark.plans._pipecommon import _cos_pre, _norm


def _emb_width_query(name: str, sql_fn, tags: tuple, doc: str):
    """Register a spark-SQL query whose corpus-projection REPARTITION
    width derives from the exact embeddings scan bytes at call time
    (io.exchange_width_for_bytes). The hints exist to parallelize a
    one-file corpus scan (1 task otherwise) AND, where the projection
    has multiple consumers, to reuse the exchange — but a fixed literal
    width on a corpus-proportional stream is AQE-exempt and becomes the
    bottleneck at 100x (the VERDICT r14 #1 class; found in this family
    by the round-15 repo-wide audit). Width evaluates to the 32 floor
    at every local sf, so measured plans are unchanged."""

    @query(name, oracle=sql_fn("duck"), tags=tags, doc=doc)
    def _fn(spark, sf_dir):
        from bdt_spark.sources.io import (
            exchange_width_for_bytes,
            plan_scan_bytes,
        )

        load_fixture_tables(spark, sf_dir)
        w = exchange_width_for_bytes(
            plan_scan_bytes(spark.table("embeddings"))
        )
        return spark.sql(sql_fn("spark", width=w))

    return _fn


def _topk_bruteforce_sql(dialect: str, width: int = 32) -> str:
    cos = _cos_pre(dialect, "q.embedding", "c.embedding", "q.nrm", "c.nrm")
    # REPARTITION: one-file corpus = one partition; without it the whole
    # query x corpus scoring runs as a single task (see _cosine_neardup_sql)
    hint = f"/*+ REPARTITION({width}, vec_id) */ " if dialect == "spark" else ""
    return f"""
    WITH v AS (
      SELECT {hint}vec_id, embedding, {_norm(dialect, "embedding")} AS nrm
      FROM embeddings
    ),
    queries AS (
      SELECT vec_id AS q_id, embedding, nrm FROM v WHERE vec_id < 5
    ),
    pairs AS (
      SELECT q.q_id, c.vec_id, {cos} AS cos_raw
      FROM queries q
      JOIN v c ON c.vec_id <> q.q_id
    ),
    scored AS (
      SELECT q_id, vec_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_raw DESC, vec_id) AS rk
      FROM pairs
    )
    SELECT q_id, vec_id, ROUND(cos_raw, 6) AS cos_sim, rk
    FROM scored WHERE rk <= 10
    ORDER BY q_id, rk
    """


_emb_width_query(
    "similarity_topk_bruteforce",
    _topk_bruteforce_sql,
    tags=("similarity", "ann", "topk"),
    doc="Brute-force cosine top-10 for 5 query vectors. The query side is "
    "broadcast (tiny); the corpus scan stays fully partitioned; ranking is a "
    "per-query window — the exact-ANN baseline at any scale. Corpus "
    "projection width derives from exact scan bytes (_emb_width_query).",
)


# Deterministic pseudo-random hyperplanes for sign-LSH, generated once from
# a fixed literal table (md5-free: plain LCG values inlined as SQL literals
# so both engines see identical constants).
def _hyperplanes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    out = []
    state = 88172645463325252
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            # xorshift64 — deterministic, engine-independent (computed here)
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(round((state % 2000003) / 1000001.5 - 1.0, 6))
        out.append(row)
    return out


def _plane_bucket_expr(dialect: str) -> str:
    """Sign-LSH bucket id from the fixed hyperplane table — the ONE
    construction both similarity_lsh_buckets and similarity_topk_lsh use
    (a plane-count or dot-product fix must hit both or their bucketing
    silently desynchronizes). Plane dots are flat unrolled chains like
    _dot (same IEEE order as the HOF fold they replaced)."""
    off = 0 if dialect == "spark" else 1
    planes = _hyperplanes()
    bits = []
    for p, row in enumerate(planes):
        dot = " + ".join(
            f"CAST(embedding[{i + off}] AS DOUBLE) * CAST({v} AS DOUBLE)"
            for i, v in enumerate(row)
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


def _lsh_bucket_sql(dialect: str) -> str:
    bucket = _plane_bucket_expr(dialect)
    return f"""
    SELECT CAST({bucket} AS INT) AS bucket,
           COUNT(*) AS n_vectors,
           MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
    FROM embeddings
    GROUP BY 1
    ORDER BY bucket
    """


sql_query(
    "similarity_lsh_buckets",
    _lsh_bucket_sql("spark"),
    oracle=_lsh_bucket_sql("duck"),
    tags=("similarity", "ann", "lsh"),
    doc="Sign-LSH bucketing: 4 fixed pseudo-random hyperplanes -> 16 "
    "buckets. At scale, ANN = shuffle corpus once by bucket, probe each "
    "query only against its own bucket (candidates /= 16 per plane-set).",
)


def _lsh_topk_sql(dialect: str, width: int = 32) -> str:
    """ANN via LSH: probe only the query's bucket, exact cosine inside."""
    bucket = _plane_bucket_expr(dialect)
    cos = _cos_pre(dialect, "q.embedding", "c.embedding", "q.nrm", "c.nrm")
    # REPARTITION: see _cosine_neardup_sql — avoids a 1-task bucket join
    hint = f"/*+ REPARTITION({width}, vec_id) */ " if dialect == "spark" else ""
    return f"""
    WITH bucketed AS (
      SELECT {hint}vec_id, embedding, CAST({bucket} AS INT) AS bucket,
             {_norm(dialect, "embedding")} AS nrm
      FROM embeddings
    ),
    queries AS (
      SELECT vec_id AS q_id, embedding, bucket, nrm
      FROM bucketed WHERE vec_id < 20
    ),
    pairs AS (
      SELECT q.q_id, c.vec_id, {cos} AS cos_raw
      FROM queries q
      JOIN bucketed c ON c.bucket = q.bucket AND c.vec_id <> q.q_id
    ),
    scored AS (
      SELECT q_id, vec_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_raw DESC, vec_id) AS rk
      FROM pairs
    )
    SELECT q_id, vec_id, ROUND(cos_raw, 6) AS cos_sim, rk
    FROM scored WHERE rk <= 5
    ORDER BY q_id, rk
    """


_emb_width_query(
    "similarity_topk_lsh",
    _lsh_topk_sql,
    tags=("similarity", "ann", "lsh", "topk"),
    doc="Approximate top-5 neighbors: candidates restricted to the query's "
    "sign-LSH bucket, exact cosine + window rank inside the bucket only. "
    "Corpus projection width derives from exact scan bytes.",
)


# ---------------------------------------------------------------------------
# IVF similarity search: centroid training + cluster-pruned probe
# ---------------------------------------------------------------------------


def _centroids_cte(dialect: str) -> str:
    """Element-wise per-label centroids in relational (exploded) form.
    Decimal-exact sums keep the means bit-identical across engines."""
    if dialect == "spark":
        exploded = (
            "SELECT label, pos + 1 AS pos1, CAST(v AS DOUBLE) AS v\n"
            "      FROM embeddings LATERAL VIEW POSEXPLODE(embedding) t AS pos, v"
        )
    else:
        exploded = (
            "SELECT label, CAST(generate_subscripts(embedding, 1) AS INT) AS pos1,\n"
            "             CAST(unnest(embedding) AS DOUBLE) AS v\n"
            "      FROM embeddings"
        )
    return f"""centroids AS (
      SELECT label, pos1,
             CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS c
      FROM ({exploded}) ex
      GROUP BY label, pos1
    )"""


sql_query(
    "similarity_ivf_centroids",
    f"""
    WITH {_centroids_cte('spark')}
    SELECT label, pos1, ROUND(c, 8) AS centroid
    FROM centroids
    ORDER BY label, pos1
    """,
    oracle=f"""
    WITH {_centroids_cte('duck')}
    SELECT label, pos1, ROUND(c, 8) AS centroid
    FROM centroids
    ORDER BY label, pos1
    """,
    tags=("similarity", "ivf", "centroids"),
    doc="IVF coarse-quantizer training step: element-wise per-cluster "
    "centroids via one explode + one (label, dim) partial-agg shuffle — "
    "the k-means-assignment-step shape that scales linearly.",
)


def _ivf_topk_sql(dialect: str, width: int = 32) -> str:
    spark = dialect == "spark"
    if spark:
        q_exploded = (
            "SELECT vec_id AS q_id, pos + 1 AS pos1, CAST(v AS DOUBLE) AS qv\n"
            "      FROM embeddings LATERAL VIEW POSEXPLODE(embedding) t AS pos, v\n"
            "      WHERE vec_id < 10"
        )
    else:
        q_exploded = (
            "SELECT vec_id AS q_id,"
            " CAST(generate_subscripts(embedding, 1) AS INT) AS pos1,\n"
            "             CAST(unnest(embedding) AS DOUBLE) AS qv\n"
            "      FROM embeddings WHERE vec_id < 10"
        )
    cos = _cos_pre(dialect, "q.embedding", "c.embedding", "q.nrm", "c.nrm")
    # REPARTITION: see _cosine_neardup_sql — parallelize the probe scoring
    hint = f"/*+ REPARTITION({width}, vec_id) */ " if dialect == "spark" else ""
    return f"""
    WITH {_centroids_cte(dialect)},
    v AS (
      SELECT {hint}vec_id, label, embedding,
             {_norm(dialect, "embedding")} AS nrm
      FROM embeddings
    ),
    q_exp AS (
      {q_exploded}
    ),
    assignment AS (
      SELECT q_id, label,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY ROUND(CAST(SUM(CAST((qv - c) * (qv - c)
                              AS DECIMAL(30,15))) AS DOUBLE), 8), label) AS rk
      FROM q_exp JOIN centroids ON q_exp.pos1 = centroids.pos1
      GROUP BY q_id, label
    ),
    probe AS (
      SELECT q_id, label FROM assignment WHERE rk = 1
    ),
    pairs AS (
      SELECT p.q_id, c.vec_id, {cos} AS cos_raw
      FROM probe p
      JOIN v q ON q.vec_id = p.q_id
      JOIN v c ON c.label = p.label AND c.vec_id <> p.q_id
    ),
    scored AS (
      SELECT q_id, vec_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_raw DESC, vec_id) AS rk
      FROM pairs
    )
    SELECT q_id, vec_id, ROUND(cos_raw, 6) AS cos_sim, rk FROM scored
    WHERE rk <= 5
    ORDER BY q_id, rk
    """


_emb_width_query(
    "similarity_topk_ivf",
    _ivf_topk_sql,
    tags=("similarity", "ann", "ivf", "topk"),
    doc="IVF ANN search: assign each query to its nearest per-label "
    "centroid (decimal-exact L2), then exact cosine top-5 ONLY within that "
    "cluster. At scale the corpus is bucketed by cluster id, so each probe "
    "scans one bucket instead of the full corpus. Corpus projection width "
    "derives from exact scan bytes.",
)


@query(
    "similarity_ivf_recall_curve",
    oracle="""
    SELECT * FROM (VALUES (1, TRUE), (2, TRUE), (4, TRUE))
      AS t(nprobe, recall_ok)
    ORDER BY nprobe
    """,
    tags=("similarity", "ann", "ivf", "recall", "property"),
    doc=(
        "Measured recall@10 of the persistent IVF index (operators/ann.py) "
        "vs brute-force ground truth at nprobe in {1, 2, 4} with k=8 "
        "clusters, property-oracled: recall floors (0.15 / 0.35 / 0.60) are "
        "pinned well under the measured curve (~0.26 / ~0.46 / ~0.74 at "
        "sf0.01-sf0.1) so the boolean is deterministic with margin. Ground "
        "truth = ivf_probe at nprobe=k, which test_ann proves exact. The "
        "k-means build is fully deterministic (md5-seeded, no rand), so the "
        "curve is stable per fixture. This is the quality half of the "
        "ANN speed/recall trade the index exists for."
    ),
)
def similarity_ivf_recall_curve(spark, sf_dir):
    import shutil
    import tempfile

    from bdt_spark.operators.ann import build_ivf_index, ivf_probe
    from bdt_spark.operators.cacheutil import release

    emb = load_fixture_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="bdt_ivf_recall_")
    try:
        build_ivf_index(spark, emb, path, k=8, n_iters=3)
        qs = emb.orderBy("vec_id").limit(20)  # deterministic query subset
        truth_raw = ivf_probe(spark, path, qs, topk=10, nprobe=8)
        truth = truth_raw.select("q_id", "vec_id").cache()
        denom = truth.count()
        release(truth_raw)  # truth rows are cached; drop the probe table
        floors = {1: 0.15, 2: 0.35, 4: 0.60}
        rows = []
        for nprobe, floor in floors.items():
            got = ivf_probe(spark, path, qs, topk=10, nprobe=nprobe)
            recall = (
                got.select("q_id", "vec_id")
                .join(truth, ["q_id", "vec_id"])
                .count()
                / denom
            )
            release(got)
            rows.append((nprobe, recall >= floor))
        truth.unpersist()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    from bdt_spark.operators.localrel import local_relation

    return local_relation(
        spark, rows, "nprobe int, recall_ok boolean"
    ).orderBy("nprobe")


@query(
    "similarity_ivf_incremental",
    oracle="""
    SELECT * FROM (VALUES
      ('exact_at_full_nprobe', TRUE),
      ('increments_probed', TRUE),
      ('recall_vs_rebuild_ok', TRUE)
    ) AS t(prop, ok)
    ORDER BY prop
    """,
    tags=("similarity", "ann", "ivf", "incremental", "property"),
    doc=(
        "Incremental IVF maintenance (VERDICT r14 #3), property-oracled "
        "like similarity_ivf_recall_curve: the corpus's even vec_ids "
        "build the base index (operators/ann.build_ivf_index, k=8), the "
        "odd half arrives as ONE ingest batch via update_ivf_index "
        "(zero-shuffle assignment to the frozen centroids, "
        "replay-idempotent increment partitions), and 20 deterministic "
        "queries probe the live base+increments index. Properties: "
        "(1) at nprobe=k the incremental probe is EXACT, so it equals a "
        "full union rebuild's nprobe=k probe set-for-set (both reduce "
        "to brute force — covers the increment union + latest-wins "
        "plumbing); (2) increment vectors actually surface in results; "
        "(3) at nprobe=2 the incremental index's recall vs its own "
        "exact truth stays within floor 0.30 of the full-rebuild "
        "index's pruned recall — assignment to frozen base centroids "
        "must not collapse probe quality (measured ~0.5-0.8 at "
        "sf0.01-sf0.1; the rebuild retrains on the union so its "
        "clusters differ). The pruned floor is deliberately below the "
        "measured band: the property is 'no collapse', not a tuned "
        "constant."
    ),
)
def similarity_ivf_incremental(spark, sf_dir):
    import shutil
    import tempfile

    from bdt_spark.operators.ann import (
        build_ivf_index,
        ivf_probe,
        update_ivf_index,
    )
    from bdt_spark.operators.cacheutil import release

    emb = load_fixture_tables(spark, sf_dir)["embeddings"]
    base = emb.filter("vec_id % 2 = 0")
    batch = emb.filter("vec_id % 2 = 1")
    qs = emb.orderBy("vec_id").limit(20)
    inc_path = tempfile.mkdtemp(prefix="bdt_ivf_inc_")
    full_path = tempfile.mkdtemp(prefix="bdt_ivf_full_")

    def probe_set(path, nprobe):
        df = ivf_probe(spark, path, qs, topk=10, nprobe=nprobe)
        rows = {(r.q_id, r.vec_id) for r in df.collect()}
        release(df)
        return rows

    try:
        build_ivf_index(spark, base, inc_path, k=8, n_iters=3)
        update_ivf_index(
            spark, inc_path, batch, batch_id="00000000000000000001"
        )
        build_ivf_index(spark, emb, full_path, k=8, n_iters=3)

        inc_exact = probe_set(inc_path, 8)
        full_exact = probe_set(full_path, 8)
        exact_ok = inc_exact == full_exact and len(inc_exact) > 0
        increments_probed = any(v % 2 == 1 for (_, v) in inc_exact)

        inc_recall = len(probe_set(inc_path, 2) & inc_exact) / max(
            len(inc_exact), 1
        )
        full_recall = len(probe_set(full_path, 2) & full_exact) / max(
            len(full_exact), 1
        )
        recall_ok = inc_recall >= full_recall - 0.30
    finally:
        shutil.rmtree(inc_path, ignore_errors=True)
        shutil.rmtree(full_path, ignore_errors=True)
    from bdt_spark.operators.localrel import local_relation

    return local_relation(
        spark,
        [
            ("exact_at_full_nprobe", exact_ok),
            ("increments_probed", increments_probed),
            ("recall_vs_rebuild_ok", recall_ok),
        ],
        "prop string, ok boolean",
    ).orderBy("prop")


def _centroid_sql(dialect: str) -> str:
    spark = dialect == "spark"
    nrm = _norm(dialect, "embedding")
    if spark:
        return f"""
        WITH nn AS (
          SELECT label, embedding, {nrm} AS nrm FROM embeddings
        ),
        ex AS (
          SELECT label, pos + 1 AS i, CAST(x AS DOUBLE) / nrm AS xn
          FROM nn LATERAL VIEW posexplode(embedding) AS pos, x
          WHERE pos < 4
        )
        SELECT label, i,
               ROUND(CAST(SUM(CAST(xn AS DECIMAL(30,12))) AS DOUBLE)
                     / COUNT(*), 6) AS centroid,
               CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM ex GROUP BY label, i
        ORDER BY label, i
        """
    return f"""
    WITH nn AS (
      SELECT label, embedding, {nrm} AS nrm FROM embeddings
    ),
    ex AS (
      SELECT label, CAST(i AS INT) AS i,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) / nrm AS xn
      FROM nn, range(1, 5) AS t(i)
    )
    SELECT label, i,
           ROUND(CAST(SUM(CAST(xn AS DECIMAL(30,12))) AS DOUBLE)
                 / COUNT(*), 6) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM ex GROUP BY label, i
    ORDER BY label, i
    """


sql_query(
    "embedding_normalize_centroid",
    _centroid_sql("spark"),
    oracle=_centroid_sql("duck"),
    tags=("embedding", "centroid", "normalize"),
    doc="L2-normalize embeddings then per-label centroid (first 4 dims "
    "shown): norm is a sequential double fold per vector (deterministic), "
    "the per-(label, dim) mean uses the decimal-sum recipe so accumulation "
    "order is moot. Shape at scale: one narrow shuffle on (label, dim) "
    "after a map-side partial agg.",
)


def _pca_power_sql(dialect: str, width: int = 32) -> str:
    if dialect == "spark":
        # REPARTITION(width, vec_id) on the exploded projection: the
        # covariance step self-joins x on vec_id and EXPANDS dim^2-fold
        # (sf10: 12.8M exploded rows -> 819M joined rows). AQE sizes the
        # join from its INPUT shuffle bytes, so it coalesced the join to
        # 3 partitions at sf10 — 3 tasks chewing 273M rows each on an
        # idle 32-core host (found by the r15 sf10 sweep). An explicit
        # hash partitioning by the join key at a width derived from the
        # EXPLODED bytes (scan x dim — io.exchange_width_for_bytes) is
        # AQE-exempt, both join branches reuse the one exchange (the
        # explode computes once), and no further join exchange exists
        # to coalesce.
        exploded = (
            f"SELECT /*+ REPARTITION({width}, vec_id) */"
            " vec_id, pos + 1 AS pos1, CAST(v AS DOUBLE) AS v\n"
            "      FROM embeddings LATERAL VIEW POSEXPLODE(embedding) t AS pos, v"
        )
    else:
        exploded = (
            "SELECT vec_id,"
            " CAST(generate_subscripts(embedding, 1) AS INT) AS pos1,\n"
            "             CAST(unnest(embedding) AS DOUBLE) AS v\n"
            "      FROM embeddings"
        )
    # Three unrolled power iterations: v_{t+1} = normalize(C v_t), starting
    # from the all-ones direction. Every SUM is decimal-pinned so both
    # engines accumulate identically; products/sqrt/div on identical doubles
    # are identical IEEE ops.
    iters = []
    prev = "u0"
    for t in (1, 2, 3):
        iters.append(
            f"""w{t} AS (
      SELECT cov.i AS i,
             CAST(SUM(CAST(cov.c * {prev}.u AS DECIMAL(30,12))) AS DOUBLE) AS w
      FROM cov JOIN {prev} ON cov.j = {prev}.i
      GROUP BY cov.i
    ),
    n{t} AS (
      SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
      FROM w{t}
    ),
    u{t} AS (
      SELECT i, w / n{t}.nrm AS u FROM w{t} CROSS JOIN n{t}
    )"""
        )
        prev = f"u{t}"
    iter_sql = ",\n    ".join(iters)
    return f"""
    WITH x AS (
      {exploded}
    ),
    mu AS (
      SELECT pos1,
             CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS m
      FROM x GROUP BY pos1
    ),
    m2 AS (
      SELECT a.pos1 AS i, b.pos1 AS j,
             CAST(SUM(CAST(a.v * b.v AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
             COUNT(*) AS n
      FROM x a JOIN x b ON a.vec_id = b.vec_id
      GROUP BY a.pos1, b.pos1
    ),
    cov AS (
      SELECT m2.i, m2.j, m2.sxy / m2.n - ma.m * mb.m AS c
      FROM m2
      JOIN mu ma ON m2.i = ma.pos1
      JOIN mu mb ON m2.j = mb.pos1
    ),
    u0 AS (
      SELECT pos1 AS i, 0.125 AS u FROM mu
    ),
    {iter_sql},
    lam AS (
      SELECT CAST(SUM(CAST(u2.u * w3.w AS DECIMAL(30,12))) AS DOUBLE)
               AS eigenvalue
      FROM u2 JOIN w3 ON u2.i = w3.i
    )
    SELECT u3.i AS dim1, ROUND(u3.u, 8) AS component,
           ROUND(lam.eigenvalue, 8) AS top_eigenvalue
    FROM u3 CROSS JOIN lam
    ORDER BY dim1
    """


@query(
    "embedding_pca_power_iteration",
    oracle=_pca_power_sql("duck"),
    tags=("embedding", "pca", "iterative", "linear-algebra"),
    doc="Top principal component of the embedding cloud by POWER ITERATION "
    "— an iterative ML algorithm expressed as one declarative plan, "
    "EXACTLY oracled (not property-oracled): the d x d covariance in "
    "relational form is small enough (64^2 rows) that three unrolled "
    "iterations are just joins+aggs over a tiny table. Covariance via "
    "the moment identity cov = E[xy] - E[x]E[y]: the Gram pass is ONE "
    "self-join on vec_id (d^2 rows per vector, partial-aggregated "
    "map-side before the (i,j) shuffle — the only corpus-sized stage, "
    "linear in rows; at 1000 executors each task emits its local d x d "
    "sums), means are a second linear pass; no centering join against "
    "the raw data. Iterations v <- normalize(C v) start from the "
    "uniform direction (0.125 = 1/sqrt(64)); eigenvalue = Rayleigh "
    "quotient u2' C u2. Every SUM decimal-pinned -> bit-identical "
    "cross-engine; output rounded to 8 decimals. The realistic use: "
    "top-component removal (all-but-the-top common-component "
    "denoising) and PCA whitening ahead of ANN indexing. The exploded "
    "projection's join-key partition width derives from scan x dim "
    "bytes at call time (see the hint comment in _pca_power_sql: AQE "
    "coalesced the dim^2-expanding self-join to 3 tasks at sf10).",
)
def embedding_pca_power_iteration(spark, sf_dir):
    from bdt_spark.sources.io import (
        exchange_width_for_bytes,
        plan_scan_bytes,
    )

    load_fixture_tables(spark, sf_dir)
    # the exchanged stream is the EXPLODED projection: dim x scan rows
    w = exchange_width_for_bytes(
        plan_scan_bytes(spark.table("embeddings")) * 64
    )
    return spark.sql(_pca_power_sql("spark", width=w))


def _quantize_int8_sql(dialect: str) -> str:
    if dialect == "spark":
        cells = (
            "SELECT vec_id, pos + 1 AS dim1, CAST(v AS DOUBLE) AS v "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v"
        )
    else:
        # DuckDB cannot pass a column to lateral generate_series; the
        # fixture embedding width is fixed (64), so the oracle unrolls a
        # constant series and guards it against a width drift with the
        # WHERE i <= len() clause.
        cells = (
            "SELECT vec_id, i AS dim1, CAST(embedding[i] AS DOUBLE) AS v "
            "FROM embeddings, GENERATE_SERIES(1, 64) t(i) "
            "WHERE i <= LEN(embedding)"
        )
    return f"""
    WITH cells AS ({cells}),
    ranges AS (
      SELECT dim1, MIN(v) AS mn, MAX(v) AS mx,
             (MAX(v) - MIN(v)) / 255.0 AS scale
      FROM cells GROUP BY dim1
    ),
    quant AS (
      -- scale = 0 (a constant dimension) must not reach the division:
      -- Spark non-ANSI yields NULL on x/0 while DuckDB IEEE mode yields
      -- inf, so an unguarded constant dim would diverge the engines.
      -- A constant dim quantizes to code 0 with zero error by definition.
      SELECT c.vec_id, c.dim1, c.v, r.scale,
             CASE WHEN r.scale = 0 THEN 0
                  ELSE FLOOR((c.v - r.mn) / r.scale + 0.5) - 128 END AS q,
             CASE WHEN r.scale = 0 THEN 0.0
                  ELSE ABS(c.v - (r.mn
                           + (FLOOR((c.v - r.mn) / r.scale + 0.5))
                             * r.scale)) END AS abs_err
      FROM cells c JOIN ranges r ON c.dim1 = r.dim1
    )
    SELECT q.dim1,
           ROUND(MIN(q.v), 8) AS dim_min,
           ROUND(MAX(q.v), 8) AS dim_max,
           ROUND(MAX(q.scale), 10) AS scale,
           CAST(MIN(q.q) AS BIGINT) AS q_min,
           CAST(MAX(q.q) AS BIGINT) AS q_max,
           ROUND(CAST(SUM(CAST(q.abs_err AS DECIMAL(25,14)))
                      AS DOUBLE) / COUNT(*), 10) AS mean_abs_err,
           CAST(MAX(q.abs_err) <= MAX(q.scale) * 0.5000001 AS BOOLEAN)
             AS within_half_step
    FROM quant q
    WHERE q.dim1 <= 8
    GROUP BY q.dim1
    ORDER BY q.dim1
    """


sql_query(
    "embedding_quantize_int8",
    _quantize_int8_sql("spark"),
    oracle=_quantize_int8_sql("duck"),
    tags=("embedding", "quantization", "compression"),
    doc="Scalar int8 quantization of the embedding table — the 4x "
    "memory/IO reduction that makes a 100 TB float32 vector corpus "
    "servable (per-dim affine [min,max] -> 0..255, stored int8; the "
    "standard pre-step before IVF/PQ indexes probe quantized codes "
    "and re-rank survivors in float). Calibration (per-dim min/max) "
    "is one partial-aggregated shuffle over exploded cells, linear in "
    "corpus size; the quantize pass joins the 64-row range table back "
    "broadcast. Rounding is spelled FLOOR(x + 0.5) in BOTH dialects "
    "(engine round() half-rule conventions differ; floor on IEEE "
    "doubles is bit-identical). Self-asserting within_half_step "
    "proves every cell's reconstruction error <= scale/2 (the 1e-7 "
    "slack covers the float32->double widening of mn). Per-dim "
    "mean_abs_err decimal-pinned. Output: the first 8 dims' "
    "calibration + error profile; q_min/q_max pin the int8 range "
    "[-128, 127].",
)


def _mutual_knn_sql(dialect: str) -> str:
    cos = _cos_pre(dialect, "a.embedding", "b.embedding", "a.nrm", "b.nrm")
    hint = "/*+ REPARTITION(32) */ " if dialect == "spark" else ""
    return f"""
    WITH v AS (
      SELECT {hint}vec_id, embedding, {_norm(dialect, "embedding")} AS nrm
      FROM embeddings WHERE vec_id < 500
    ),
    scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, {cos} AS cos_raw,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {cos} DESC, b.vec_id) AS rk
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst, cos_raw FROM scored WHERE rk <= 3
    )
    SELECT k1.src AS vec_a, k1.dst AS vec_b,
           ROUND(k1.cos_raw, 6) AS cos_sim
    FROM knn k1 JOIN knn k2
      ON k1.src = k2.dst AND k1.dst = k2.src
    WHERE k1.src < k1.dst
    ORDER BY vec_a, vec_b
    """


sql_query(
    "similarity_mutual_knn_graph",
    _mutual_knn_sql("spark"),
    oracle=_mutual_knn_sql("duck"),
    tags=("similarity", "knn-graph", "clustering"),
    doc="MUTUAL k-nearest-neighbor graph (a edge exists only when each "
    "endpoint ranks in the OTHER's top-3 by cosine) — the standard "
    "noise-robust edge set for density clustering and dedup-cluster "
    "seeding: one-directional kNN links a point into a foreign "
    "cluster through a hub neighbor, mutuality prunes exactly those. "
    "Per-node top-3 is a ranking window over the scored pairs; "
    "mutuality is a self-join of the (already tiny, <= 3n rows) kNN "
    "edge list on the reversed pair. The all-pairs scoring stage is "
    "bounded to the vec_id < 500 slice (the whole sf0.01 corpus; a "
    "fixed-size panel at larger sf) — the production-scale version "
    "feeds these windows from the IVF/LSH candidate stages instead "
    "of all-pairs, as similarity_topk_ivf demonstrates. Cosines "
    "through the shared unrolled-chain dot (same IEEE order both "
    "engines), ROUND(6) on output only.",
)


def _centroid_drift_sql(dialect: str) -> str:
    if dialect == "spark":
        cells = (
            "SELECT vec_id, label, pos + 1 AS dim1, CAST(v AS DOUBLE) AS v "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v"
        )
    else:
        cells = (
            "SELECT vec_id, label, i AS dim1, "
            "CAST(embedding[i] AS DOUBLE) AS v "
            "FROM embeddings, GENERATE_SERIES(1, 64) t(i) "
            "WHERE i <= LEN(embedding)"
        )
    return f"""
    WITH cells AS ({cells}),
    halves AS (
      SELECT label, dim1, CAST(vec_id % 2 AS INT) AS split,
             CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM cells GROUP BY label, dim1, CAST(vec_id % 2 AS INT)
    ),
    mu AS (
      SELECT label, dim1,
             MAX(CASE WHEN split = 0 THEN s / n END) AS m0,
             MAX(CASE WHEN split = 1 THEN s / n END) AS m1
      FROM halves GROUP BY label, dim1
    ),
    dist AS (
      SELECT label,
             CAST(SUM(CAST((m0 - m1) * (m0 - m1) AS DECIMAL(30,18)))
                  AS DOUBLE) AS sq_l2
      FROM mu GROUP BY label
    )
    SELECT label, ROUND(sq_l2, 10) AS centroid_sq_l2,
           CAST(sq_l2 < 0.05 AS BOOLEAN) AS no_drift
    FROM dist
    ORDER BY label
    """


sql_query(
    "embedding_centroid_drift",
    _centroid_drift_sql("spark"),
    oracle=_centroid_drift_sql("duck"),
    tags=("embedding", "drift", "quality"),
    doc="EMBEDDING drift check — the vector companion to the chi-square "
    "(categorical) and KS (continuous scalar) split gates: per-label "
    "centroid of each hash-split half, squared L2 distance between "
    "the halves' centroids. A sound split gives near-zero distance "
    "(sampling noise ~ 2*d*var/n); a drifted embedding version, a "
    "re-normalization bug, or a split that correlates with content "
    "shows up as a per-label distance jump. One (label, dim, split) "
    "partial-aggregated shuffle over the exploded cells — linear in "
    "corpus, the 64-row-per-label centroid table is free. Per-dim "
    "means decimal-pinned, the squared-difference fold decimal-"
    "pinned again (the values are ~1e-4; DECIMAL(30,18) keeps every "
    "bit). The no_drift bound is loose by design (0.05 across sf "
    "0.001-10; measured sf0.01 values sit at ~1e-3).",
)
