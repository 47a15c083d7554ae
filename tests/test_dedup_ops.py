"""Library dedup operators (bdt_spark.operators.dedup): NULL-safe exact
key, shingle-cache release."""

import pytest
from pyspark.sql import functions as F

from bdt_spark.operators.dedup import exact_dup_groups, minhash_pairs


def test_exact_dup_null_positions_distinct(spark):
    """('a', NULL) vs (NULL, 'a') and ('a', NULL, 'b') vs ('a', 'b', NULL)
    must NOT be duplicates (regression: concat_ws drops NULLs)."""
    df = spark.createDataFrame(
        [
            (1, "a", None, "b"),
            (2, "a", "b", None),
            (3, None, "a", "b"),
            (4, "a", None, "b"),   # true duplicate of row 1
        ],
        "id int, c1 string, c2 string, c3 string",
    )
    groups = exact_dup_groups(df, ["c1", "c2", "c3"], "id").collect()
    assert len(groups) == 1
    assert groups[0].n_copies == 2 and groups[0].keep_id == 1


def test_exact_dup_length_prefix_blocks_boundary_collisions(spark):
    """('ab','c') vs ('a','bc') share the same concatenation — the
    length-prefixed key must keep them apart."""
    df = spark.createDataFrame(
        [(1, "ab", "c"), (2, "a", "bc")], "id int, x string, y string"
    )
    assert exact_dup_groups(df, ["x", "y"], "id").count() == 0


def test_minhash_hot_bucket_cap_bounds_pairs(spark):
    """One boilerplate template shared by many docs puts them all in the
    same band buckets: without a cap the candidate join emits C(n,2) pairs
    for that bucket alone. With the cap the hot buckets are dropped, the
    pair count is bounded, and the unrelated small near-dup cluster still
    comes through."""
    template = "shared license header boilerplate text repeated across corpus"
    rows = [(i, template) for i in range(40)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    stats: dict = {}
    capped = minhash_pairs(docs, threshold=0.3, hot_bucket_cap=10, stats=stats)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # the 40-doc template cluster (C(40,2)=780 pairs) is gone; the small
    # cluster survives; every bucket respects the cap: <= C(10,2) per bucket
    assert (100, 101) in got
    assert not any(a < 100 for a, _ in got)
    assert stats["hot_buckets_dropped"] >= 1

    # default cap is far above fixture bucket sizes -> inactive
    uncapped = minhash_pairs(docs, threshold=0.3)
    assert uncapped.count() == 40 * 39 // 2 + 1


def test_minhash_pairs_releases_shingle_cache(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different text with no shared shingles here"),
        ],
        "doc_id int, text string",
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    out = minhash_pairs(docs, threshold=0.3)
    assert out.count() >= 1
    after = spark.sparkContext._jsc.getPersistentRDDs()
    # no *new* MEMORY_AND_DISK shingle cache left behind (localCheckpoint
    # blocks of the small result are not storage-level caches we track here)
    leaked = [
        rid for rid in set(after.keySet()) - before
        if "MEMORY_AND_DISK" in str(
            after.get(rid).getStorageLevel().description()
        )
    ]
    assert leaked == []


# --- signature-geometry properties (k_hash / n_bands parameterization) ------


def _overlap_pairs(n_pairs: int, m: int, overlap: int):
    """Doc pairs with EXACTLY known shingle Jaccard: per pair, side a holds
    items 0..m-1, side b holds items m-overlap..2m-overlap-1, so
    |intersect| = overlap and |union| = 2m - overlap. Disjoint per-pair item
    universes keep every pair's signature independent."""
    rows = []
    for p in range(n_pairs):
        a = [f"p{p}i{i}" for i in range(m)]
        b = [f"p{p}i{i}" for i in range(m - overlap, 2 * m - overlap)]
        rows.append((p, "a", a))
        rows.append((p, "b", b))
    return rows


def _signatures(spark, rows, k):
    from bdt_spark.operators.dedup import minhash_lane_exprs

    df = spark.createDataFrame(
        rows, "pair_id int, side string, shingles array<string>"
    )
    dig, lanes = minhash_lane_exprs(k)
    return df.selectExpr("pair_id", "side", *dig).selectExpr(
        "pair_id", "side", *lanes
    )


def _estimate_mae(spark, rows, k, true_j):
    sig = _signatures(spark, rows, k).toPandas()
    a = sig[sig.side == "a"].set_index("pair_id").sort_index()
    b = sig[sig.side == "b"].set_index("pair_id").sort_index()
    lanes = [c for c in sig.columns if c.startswith("h")]
    est = (a[lanes].values == b[lanes].values).mean(axis=1)
    return float(abs(est - true_j).mean())


def test_higher_k_tightens_jaccard_estimate(spark):
    """E|j_hat - j| shrinks ~1/sqrt(k): the 64-hash signature's mean
    absolute estimation error must be well under the 8-hash one on pairs
    with known Jaccard 0.5. Deterministic (md5-seeded, fixed corpus)."""
    rows = _overlap_pairs(n_pairs=60, m=20, overlap=20 * 2 // 3)  # j = 0.5
    true_j = (20 * 2 // 3) / (2 * 20 - 20 * 2 // 3)
    mae8 = _estimate_mae(spark, rows, 8, true_j)
    mae64 = _estimate_mae(spark, rows, 64, true_j)
    assert mae64 < mae8 * 0.6, (mae8, mae64)
    assert mae64 < 0.08, mae64


def test_more_rows_per_band_cut_subthreshold_candidates(spark):
    """S-curve sharpening: at j~0.29 (below a 0.5 threshold), the k=64/b=8
    geometry (8 rows per band) must surface strictly fewer false
    candidates than the default k=8/b=4 (2 rows per band), which by the
    S-curve formula fires on ~30% of such pairs."""
    from bdt_spark.operators.dedup import band_keys_expr

    rows = _overlap_pairs(n_pairs=60, m=20, overlap=9)  # j = 9/31 ~ 0.29

    def n_candidates(k, b):
        sig = _signatures(spark, rows, k)
        bk = sig.selectExpr(
            "pair_id", "side", f"explode({band_keys_expr(k, b)}) AS bkey"
        )
        a = bk.filter("side = 'a'").alias("a")
        bb = bk.filter("side = 'b'").alias("b")
        return (
            a.join(
                bb,
                (F.col("a.pair_id") == F.col("b.pair_id"))
                & (F.col("a.bkey") == F.col("b.bkey")),
            )
            .select("a.pair_id")
            .distinct()
            .count()
        )

    loose = n_candidates(8, 4)
    tight = n_candidates(64, 8)
    assert tight < loose, (loose, tight)
    assert loose >= 5  # the default geometry demonstrably wastes work here


def test_minhash_pairs_k64_finds_same_near_dups(spark):
    """The parameterized operator end-to-end at k=64/b=16: the true
    near-dup pair still verifies; validation rejects bad geometry."""
    import pytest

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely unrelated text about spark shuffle partitions"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_pairs(docs, threshold=0.3, k_hash=64, n_bands=16).collect()
    }
    assert got == {(1, 2)}
    with pytest.raises(ValueError):
        minhash_pairs(docs, k_hash=10, n_bands=4)
    with pytest.raises(ValueError):
        minhash_pairs(docs, k_hash=8, n_bands=3)


# --- sparse sign-LSH geometry (round 7: the embedding near-dup blocker) -----


def _sparse_plane_matrix():
    import numpy as np

    from bdt_spark.plans.pipeline import (
        EMB_DIM,
        NEARDUP_BANDS,
        NEARDUP_NNZ,
        NEARDUP_PLANES,
        _sparse_planes,
    )

    planes = _sparse_planes(NEARDUP_BANDS * NEARDUP_PLANES)
    M = np.zeros((len(planes), EMB_DIM))
    for i, p in enumerate(planes):
        assert len(p) == NEARDUP_NNZ
        assert len({d for d, _ in p}) == NEARDUP_NNZ  # distinct dims
        for d, s in p:
            assert s in (1, -1) and 0 <= d < EMB_DIM
            M[i, d] = s
    return M


def test_sparse_planes_deterministic_and_distinct():
    """The plane table is a pure function of the xorshift seed (both
    dialects' SQL is generated from it — any nondeterminism desyncs the
    oracle) and no two planes are identical (a duplicate plane wastes a
    sign bit and halves the bucket space)."""
    import numpy as np

    a, b = _sparse_plane_matrix(), _sparse_plane_matrix()
    np.testing.assert_array_equal(a, b)
    assert len({tuple(r) for r in a.tolist()}) == len(a)


def test_sparse_lsh_recall_on_injected_neardups_sf001():
    """Geometry regression pin: on the real sf0.01 fixture with the
    query's own injection rule (every 20th vector, even dims * 1.1),
    at least 90% of injected (source, perturbed) pairs must share a
    bucket in >= 1 band, and the per-plane sign-agreement must stay
    >= 0.95 — an accidental edit to the plane constants or geometry
    that degrades recall fails HERE, not silently in a smaller oracle
    result."""
    import duckdb
    import numpy as np

    from bdt_spark.plans.pipeline import NEARDUP_BANDS, NEARDUP_PLANES

    M = _sparse_plane_matrix()
    src = "/root/testdata/sf0.01/embeddings.parquet"
    emb = np.array(
        duckdb.sql(
            f"SELECT embedding FROM '{src}' ORDER BY vec_id"
        ).fetchnumpy()["embedding"].tolist(),
        dtype=np.float64,
    )
    ids = duckdb.sql(
        f"SELECT vec_id FROM '{src}' ORDER BY vec_id"
    ).fetchnumpy()["vec_id"]
    inj = ids % 20 == 0
    pert = emb[inj].copy()
    pert[:, ::2] *= 1.1
    bits_src = (emb[inj] @ M.T) > 0
    bits_prt = (pert @ M.T) > 0
    agree = bits_src == bits_prt
    assert agree.mean() >= 0.95
    collide = np.zeros(inj.sum(), dtype=bool)
    for band in range(NEARDUP_BANDS):
        cols = slice(band * NEARDUP_PLANES, (band + 1) * NEARDUP_PLANES)
        collide |= agree[:, cols].all(axis=1)
    assert collide.mean() >= 0.90


def test_spanning_window_rungs_connect_interleaved_cliques():
    """The candidate edge rule (<= NEARDUP_WINDOW contiguous predecessors
    + rank rungs 16/32/64/128) must keep every clique CONNECTED inside a
    bucket even when k cliques interleave round-robin, for all k up to
    the window size — the exact failure the sf10 sweep caught (window-
    only edges left diameter > max_iters on interleaved cliques)."""
    from bdt_spark.plans.pipeline import NEARDUP_RUNGS, NEARDUP_WINDOW

    rungs = NEARDUP_RUNGS
    for k in range(1, NEARDUP_WINDOW + 1):  # k interleaved cliques
        n = 120 * k  # bucket members, round-robin clique assignment
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a in range(n):
            for d in list(range(1, NEARDUP_WINDOW + 1)) + list(rungs):
                b = a + d
                if b < n and a % k == b % k:  # same clique -> verify passes
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[ra] = rb
        comps = {find(x) for x in range(n)}
        assert len(comps) == k, f"k={k}: {len(comps)} components, want {k}"


def test_rungs_cover_every_interleave_factor():
    """Each k <= window must have a rung divisible by k (the 16-member
    in-clique jump that keeps the CC diameter ~members/16): plain powers
    of two failed this for k in {3,5,6,7} and blew max_iters at sf10."""
    from bdt_spark.plans.pipeline import NEARDUP_RUNGS, NEARDUP_WINDOW

    for k in range(1, NEARDUP_WINDOW + 1):
        jumps = [r // k for r in NEARDUP_RUNGS if r % k == 0]
        assert jumps and max(jumps) >= 8, (
            f"no useful rung for {k}-way interleave: {NEARDUP_RUNGS}"
        )


@pytest.mark.slow
def test_eager_persist_gate_same_results_and_no_cache_residue(spark, monkeypatch):
    """The input-size gate (EAGER_PERSIST_MIN_BYTES) switches caching AND
    the verification arm (r13: small corpora verify against the corpus
    shingle table single-pass; big corpora cache intermediates and
    re-shingle only candidates): a small corpus run and a forced-eager
    run (EAGER_PERSIST_MIN_BYTES=0) must produce identical pairs, and
    NEITHER may leave persisted RDDs behind (the small path never
    persists; the eager path unpersists everything but the result,
    which it also releases via garbage collection of the handle)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different text with no shared shingles here"),
            (4, "the quick brown fox jumps over the lazy dog tomorrow"),
        ],
        "doc_id int, text string",
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    small = {(r.doc_a, r.doc_b, r.jaccard)
             for r in minhash_pairs(docs, threshold=0.3).collect()}
    mid = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert mid - before == set(), "small path must not persist anything"

    from bdt_spark.operators import dedup

    with monkeypatch.context() as m:
        m.setattr(dedup, "EAGER_PERSIST_MIN_BYTES", 0)
        eager_out = minhash_pairs(docs, threshold=0.3)
    eager = {(r.doc_a, r.doc_b, r.jaccard) for r in eager_out.collect()}
    assert eager == small and len(small) >= 1
    eager_out.unpersist()

    from bdt_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i % 3 == 0)] + [0.5] * 63) for i in range(12)],
        "vec_id int, embedding array<double>",
    )
    s2 = {(r.vec_a, r.vec_b)
          for r in embedding_neardup_pairs(emb, threshold=0.9).collect()}
    with monkeypatch.context() as m:
        m.setattr(dedup, "EAGER_PERSIST_MIN_BYTES", 0)
        e2_out = embedding_neardup_pairs(emb, threshold=0.9)
    e2 = {(r.vec_a, r.vec_b) for r in e2_out.collect()}
    assert e2 == s2 and len(s2) >= 1
    e2_out.unpersist()


def test_plan_size_bytes_never_trusts_sentinel_derived_roots(spark):
    """A Project above a stats-less leaf SCALES the unknown-stats
    sentinel by the column-width ratio, producing a root estimate that
    is huge but BELOW defaultSizeInBytes — a root-threshold check
    mistakes it for a known size and fails open to eager. The gate must
    resolve leaf estimates instead: driver-local leaves count as zero
    regardless of what operators sit above them."""
    from bdt_spark.operators.dedup import EAGER_PERSIST_MIN_BYTES, _plan_size_bytes

    rows = [(i, f"word{i} filler text") for i in range(50)]
    base = spark.createDataFrame(rows, "doc_id int, text string")
    for df in (
        base,
        base.select("doc_id", "text"),          # Project over LogicalRDD
        base.select("text"),                     # width-ratio-scaled root
        base.filter("doc_id < 10").select("text"),
    ):
        n = _plan_size_bytes(df)
        assert n < EAGER_PERSIST_MIN_BYTES, (
            f"driver-local plan resolved as {n} bytes (eager)"
        )
    # file-scan input keeps its real (leaf) size
    files = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert 0 < _plan_size_bytes(files) < EAGER_PERSIST_MIN_BYTES
    assert 0 < _plan_size_bytes(files.select("text")) < EAGER_PERSIST_MIN_BYTES


def test_minhash_gate_both_arms_agree(spark, monkeypatch):
    """r13 arm gate (VERDICT r12 #2): on the fixture documents table the
    small-corpus arm (verify joins the corpus shingle table; nothing
    persisted, so the plan shows no InMemoryTableScan) and the forced
    scale arm (EAGER_PERSIST_MIN_BYTES=0: cached candidates, verify
    re-shingles only candidate docs) must return row-identical pairs.
    The discriminator between arms is structural: the scale arm's
    executed plan reads persisted intermediates, the small arm's never
    does."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    small_df = minhash_pairs(docs, threshold=0.5)
    assert (
        "InMemoryTableScan"
        not in small_df._jdf.queryExecution().executedPlan().toString()
    ), "small arm must stay fully lazy (no cached intermediates)"
    small = [(r.doc_a, r.doc_b, r.jaccard) for r in small_df.collect()]

    from bdt_spark.operators import dedup

    monkeypatch.setattr(dedup, "EAGER_PERSIST_MIN_BYTES", 0)
    scale_df = minhash_pairs(docs, threshold=0.5)
    assert (
        "InMemoryTableScan"
        in scale_df._jdf.queryExecution().executedPlan().toString()
    ), "scale arm must read its persisted pair output"
    scale = [(r.doc_a, r.doc_b, r.jaccard) for r in scale_df.collect()]
    scale_df.unpersist()

    assert small == scale and len(small) >= 1


def test_incremental_minhash_state_replay_idempotent(spark, tmp_path):
    """Cross-run minhash state (VERDICT r13 #6): replaying a batch under
    the same batch_id overwrites exactly its own hive partition (dynamic
    partition overwrite) so at-least-once delivery converges to
    exactly-once state; a second distinct batch appends; and the probe's
    candidates over the replayed state are byte-identical."""
    from bdt_spark.operators.dedup import (
        incremental_minhash_candidates,
        update_minhash_state,
    )

    state = str(tmp_path / "mh_state")
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs right now"),
            (4, "sphinx of black quartz judge my vow said the king"),
        ],
        "doc_id long, text string",
    )
    update_minhash_state(spark, state, corpus, batch_id="b0")
    batch = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog today"),
            (103, "completely unrelated text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    first = incremental_minhash_candidates(spark, state, batch).collect()
    assert [(r.incoming_doc_id, r.corpus_doc_id) for r in first] == [(101, 0)]
    assert first[0].est_jaccard == 1.0

    # replay the same batch_id: state unchanged (one partition, same rows)
    update_minhash_state(spark, state, corpus, batch_id="b0")
    assert spark.read.parquet(state).count() == 3
    assert incremental_minhash_candidates(spark, state, batch).collect() == first

    # a second batch appends its own partition; earlier state intact
    more = spark.createDataFrame(
        [(6, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string",
    )
    update_minhash_state(spark, state, more, batch_id="b1")
    assert spark.read.parquet(state).count() == 4
    got = incremental_minhash_candidates(spark, state, batch).collect()
    assert got == first  # batch still matches only doc 0


@pytest.mark.slow
def test_incremental_minhash_operator_matches_oracled_query(spark, sf_dir, tmp_path):
    """The persistent operator pair (update_minhash_state +
    incremental_minhash_candidates) must be row-identical to the oracled
    dedup_incremental_minhash registry plan on the same corpus/incoming
    split — the minhash_pairs transplant-pinning pattern."""
    import bdt_spark.plans as plans
    from bdt_spark.operators.dedup import (
        incremental_minhash_candidates,
        update_minhash_state,
    )
    from bdt_spark.sources.io import load_fixture_tables

    load_fixture_tables(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    corpus = docs.filter("doc_id % 2 = 0")
    incoming = docs.filter("doc_id % 2 = 1").unionAll(
        docs.filter("doc_id % 10 = 0").selectExpr(
            "doc_id + 2000000 AS doc_id", "text"
        )
    )
    state = str(tmp_path / "mh_state")
    update_minhash_state(spark, state, corpus, batch_id="snap")
    ours = incremental_minhash_candidates(spark, state, incoming).collect()
    ref = plans.get_query("dedup_incremental_minhash").fn(spark, sf_dir).collect()
    assert ours == ref and len(ref) > 0


def test_incremental_embedding_state_replay_idempotent(spark, tmp_path):
    """Cross-run embedding bucket state: replay of a batch_id overwrites
    exactly its own partition; a perturbed copy of a corpus vector is
    found at cosine ~1; an orthogonal vector is not."""
    from bdt_spark.operators.dedup import (
        incremental_embedding_candidates,
        update_embedding_state,
    )

    dim = 64
    base = [1.0 if i % 3 == 0 else 0.5 for i in range(dim)]
    near = [v * (1.1 if i % 2 == 0 else 1.0) for i, v in enumerate(base)]
    ortho = [1.0 if i % 2 else -1.0 for i in range(dim)]
    state = str(tmp_path / "emb_state")
    corpus = spark.createDataFrame(
        [(0, base), (2, ortho)], "vec_id long, embedding array<double>"
    )
    update_embedding_state(spark, state, corpus, batch_id="b0")
    batch = spark.createDataFrame(
        [(101, near), (103, [float(i) for i in range(dim)])],
        "vec_id long, embedding array<double>",
    )
    first = incremental_embedding_candidates(spark, state, batch).collect()
    assert [(r.incoming_vec_id, r.corpus_vec_id) for r in first] == [(101, 0)]
    assert first[0].cos_sim > 0.99

    update_embedding_state(spark, state, corpus, batch_id="b0")  # replay
    assert spark.read.parquet(state).count() == 2
    got = incremental_embedding_candidates(spark, state, batch).collect()
    assert got == first


@pytest.mark.slow
def test_incremental_embedding_operator_matches_oracled_query(
    spark, sf_dir, tmp_path
):
    """update_embedding_state + incremental_embedding_candidates must be
    row-identical to the oracled dedup_incremental_embedding plan on the
    same corpus/incoming split."""
    import bdt_spark.plans as plans
    from bdt_spark.operators.dedup import (
        incremental_embedding_candidates,
        update_embedding_state,
    )
    from bdt_spark.sources.io import load_fixture_tables

    load_fixture_tables(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    corpus = emb.filter("vec_id % 2 = 0")
    incoming = emb.filter("vec_id % 2 = 1").unionAll(
        emb.filter("vec_id % 20 = 0").selectExpr(
            "vec_id + 1000000 AS vec_id",
            "transform(embedding, (x, i) -> CASE WHEN i % 2 = 0 THEN"
            " CAST(x AS DOUBLE) * 1.1 ELSE CAST(x AS DOUBLE) END)"
            " AS embedding",
        )
    )
    state = str(tmp_path / "emb_state")
    update_embedding_state(spark, state, corpus, batch_id="snap")
    ours = incremental_embedding_candidates(spark, state, incoming).collect()
    ref = (
        plans.get_query("dedup_incremental_embedding")
        .fn(spark, sf_dir)
        .collect()
    )
    assert ours == ref and len(ref) > 0


def test_incremental_state_compaction_probe_invariant(spark, tmp_path):
    """Compaction folds N batch partitions into one without changing any
    probe result; per-id the lexicographically latest batch wins (the
    re-ingest contract); old partitions are gone afterwards."""
    from bdt_spark.operators.dedup import (
        compact_minhash_state,
        incremental_minhash_candidates,
        update_minhash_state,
    )

    state = str(tmp_path / "mh_state")
    d0 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [(4, "sphinx of black quartz judge my vow said the king"),
         # re-ingest doc 2 with CHANGED text in a LATER batch: the
         # compacted state must keep this version
         (2, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    update_minhash_state(spark, state, d0, batch_id="b0")
    update_minhash_state(spark, state, d1, batch_id="b1")
    batch = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    before = incremental_minhash_candidates(spark, state, batch).collect()
    # doc 2's b1 version now matches the probe text too
    assert {(r.incoming_doc_id, r.corpus_doc_id) for r in before} == {
        (101, 0), (101, 2)
    }

    compact_minhash_state(spark, state)
    st = spark.read.parquet(state)
    assert st.count() == 3  # one row per doc, latest batch won for doc 2
    assert st.select("batch").distinct().count() == 1
    after = incremental_minhash_candidates(spark, state, batch).collect()
    assert after == before


def test_state_compaction_lists_partitions_without_a_job(
    spark, tmp_path, monkeypatch
):
    """Compaction takes its batch ids from the driver-side partition
    listing: before its write it runs only the state read's own schema
    job. A batch id Spark escapes in its directory name (`b:1` is
    `batch=b%3A1`) is folded and deleted like any other."""
    import os

    from harness import jobs_before_write, jobs_started

    from bdt_spark.operators.dedup import (
        _read_state_untyped,
        compact_minhash_state,
        update_minhash_state,
    )

    state = str(tmp_path / "mh_state")
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string",
    )
    update_minhash_state(spark, state, docs, batch_id="b0")
    update_minhash_state(spark, state, docs, batch_id="b:1")
    read_jobs = jobs_started(spark, lambda: _read_state_untyped(spark, state))
    before = jobs_before_write(
        spark, lambda: compact_minhash_state(spark, state), monkeypatch
    )
    assert len(before) == len(read_jobs)
    assert compact_minhash_state(spark, state) == "b:1.compact"
    parts = [n for n in os.listdir(state) if n.startswith("batch=")]
    assert parts == ["batch=b%3A1.compact"]
    assert _read_state_untyped(spark, state).count() == 2


def test_incremental_embedding_gate_both_arms_agree(
    spark, sf_dir, monkeypatch
):
    """dedup_incremental_embedding picks bare vs exchange-reuse from
    exact embeddings scan bytes; both arms must return identical rows
    (the plan gate changes exchanges, never semantics)."""
    import bdt_spark.plans as plans
    from bdt_spark.plans import pipeline_dedup

    fn = plans.get_query("dedup_incremental_embedding").fn
    small = fn(spark, sf_dir)
    small_rows = small.collect()
    monkeypatch.setattr(pipeline_dedup, "_INC_EMB_EXCHANGE_MIN_BYTES", 0)
    big = fn(spark, sf_dir)

    def hinted(df):
        return "RepartitionByExpression" in (
            df._jdf.queryExecution().analyzed().toString()
        )

    assert not hinted(small) and hinted(big)
    assert big.collect() == small_rows
    assert len(small_rows) > 0


def test_incremental_probe_max_batch_replay_guard(spark, tmp_path):
    """`max_batch` bounds the probe to partitions batch < bid: a
    replayed batch whose state write already landed (restart before the
    streaming checkpoint commit) probes exactly the pre-batch state the
    first attempt saw — no self matches (ADVICE r14)."""
    from bdt_spark.operators.dedup import (
        incremental_minhash_candidates,
        update_minhash_state,
    )

    state = str(tmp_path / "mh_state")
    a = "the quick brown fox jumps over the lazy dog today"
    corpus = spark.createDataFrame([(0, a)], "doc_id long, text string")
    update_minhash_state(
        spark, state, corpus, batch_id="00000000000000000000"
    )
    batch = spark.createDataFrame([(101, a)], "doc_id long, text string")
    want = incremental_minhash_candidates(spark, state, batch).collect()
    assert [(r.incoming_doc_id, r.corpus_doc_id) for r in want] == [(101, 0)]

    # the crash window: this batch's state write landed, then replay
    update_minhash_state(
        spark, state, batch, batch_id="00000000000000000001"
    )
    replayed = incremental_minhash_candidates(
        spark, state, batch, max_batch="00000000000000000001"
    ).collect()
    assert replayed == want  # no (101, 101) self match
    # an unbounded probe DOES see the batch's own partition — the
    # exact divergence the bound exists to prevent
    unbounded = incremental_minhash_candidates(spark, state, batch).collect()
    assert (101, 101) in [
        (r.incoming_doc_id, r.corpus_doc_id) for r in unbounded
    ]


def test_incremental_probe_multi_version_latest_wins(spark, tmp_path):
    """A corpus doc re-ingested with CHANGED content across batches:
    the probe resolves to the LATEST version before bucketing, so the
    result is deterministic and identical to probing the compacted
    state (ADVICE r14: an arbitrary colliding version's signature used
    to win the candidate dedup)."""
    from bdt_spark.operators.dedup import (
        compact_minhash_state,
        incremental_minhash_candidates,
        update_minhash_state,
    )

    a = "the quick brown fox jumps over the lazy dog today"
    b = "entirely different words about spark shuffles and joins now"
    state = str(tmp_path / "mh_state")
    update_minhash_state(
        spark,
        state,
        spark.createDataFrame(
            [(0, b), (2, a)], "doc_id long, text string"
        ),
        batch_id="00000000000000000000",
    )
    # doc 2 changed: its OLD version matches the probe text, the NEW
    # one does not — only the new one may count
    update_minhash_state(
        spark,
        state,
        spark.createDataFrame([(2, b)], "doc_id long, text string"),
        batch_id="00000000000000000001",
    )
    probe = spark.createDataFrame([(101, a)], "doc_id long, text string")
    before = incremental_minhash_candidates(spark, state, probe).collect()
    assert before == []  # stale v1 of doc 2 must not match

    compact_minhash_state(spark, state)
    after = incremental_minhash_candidates(spark, state, probe).collect()
    assert after == before


def test_compaction_id_sorts_with_monotone_batches(spark, tmp_path):
    """The compacted partition id is '<max folded batch>.compact', so a
    doc re-ingested with changed content in a LATER monotone batch
    still wins the NEXT compaction (ADVICE r14: 'compact-<hex>' sorted
    above zero-padded numeric ids and stale rows silently won)."""
    from bdt_spark.operators.dedup import (
        compact_minhash_state,
        incremental_minhash_candidates,
        update_minhash_state,
    )

    a = "the quick brown fox jumps over the lazy dog today"
    b = "pack my box with five dozen liquor jugs right now"
    state = str(tmp_path / "mh_state")
    s = "doc_id long, text string"
    update_minhash_state(
        spark, state, spark.createDataFrame([(0, b)], s),
        batch_id="00000000000000000000",
    )
    update_minhash_state(
        spark, state, spark.createDataFrame([(2, a)], s),
        batch_id="00000000000000000001",
    )
    cid = compact_minhash_state(spark, state)
    assert cid == "00000000000000000001.compact"

    # doc 2 changes AFTER the compaction, in a later monotone batch
    update_minhash_state(
        spark, state, spark.createDataFrame([(2, b)], s),
        batch_id="00000000000000000002",
    )
    compact_minhash_state(spark, state)
    st = spark.read.parquet(state)
    assert st.count() == 2 and st.select("batch").distinct().count() == 1

    # the probe must see doc 2's NEW content (text b), not the stale a
    hits_b = incremental_minhash_candidates(
        spark, state, spark.createDataFrame([(101, b)], s)
    ).collect()
    assert {(r.incoming_doc_id, r.corpus_doc_id) for r in hits_b} == {
        (101, 0), (101, 2)
    }
    hits_a = incremental_minhash_candidates(
        spark, state, spark.createDataFrame([(102, a)], s)
    ).collect()
    assert hits_a == []


def test_incremental_probe_stats_surface_hot_buckets(spark, tmp_path):
    """The incremental probes surface dropped-hot-bucket counts via the
    `stats` out-param, mirroring minhash_pairs (VERDICT r14 #4): a
    production ingest can see recall loss instead of silent drops."""
    from bdt_spark.operators.dedup import (
        N_BANDS,
        incremental_embedding_candidates,
        incremental_minhash_candidates,
        update_embedding_state,
        update_minhash_state,
    )

    a = "the quick brown fox jumps over the lazy dog today"
    state = str(tmp_path / "mh_state")
    corpus = spark.createDataFrame(
        [(i, a) for i in range(4)], "doc_id long, text string"
    )
    update_minhash_state(spark, state, corpus, batch_id="b0")
    batch = spark.createDataFrame([(101, a)], "doc_id long, text string")
    stats = {}
    got = incremental_minhash_candidates(
        spark, state, batch, hot_bucket_cap=2, stats=stats
    ).collect()
    # 4 identical docs -> every band bucket exceeds cap 2 and is dropped
    assert got == []
    assert stats == {"hot_bucket_cap": 2, "hot_buckets_dropped": N_BANDS}

    dim = 64
    base = [1.0 if i % 3 == 0 else 0.5 for i in range(dim)]
    estate = str(tmp_path / "emb_state")
    update_embedding_state(
        spark,
        estate,
        spark.createDataFrame(
            [(i, base) for i in range(4)],
            "vec_id long, embedding array<double>",
        ),
        batch_id="b0",
    )
    estats = {}
    egot = incremental_embedding_candidates(
        spark,
        estate,
        spark.createDataFrame(
            [(101, base)], "vec_id long, embedding array<double>"
        ),
        hot_bucket_cap=2,
        stats=estats,
    ).collect()
    assert egot == []
    assert estats["hot_bucket_cap"] == 2
    assert estats["hot_buckets_dropped"] > 0


def test_exchange_width_for_bytes_scales_with_scan():
    """Exchange-reuse hint widths derive from exact scan bytes
    (VERDICT r14 #1): small scans keep the local floor, big scans scale
    at 16 MiB/partition in power-of-two steps, unknown-table sentinel
    fails wide at the 4096 clamp — an explicit-width REPARTITION is
    AQE-exempt, so the literal must never be a fixed constant."""
    from bdt_spark.sources.io import exchange_width_for_bytes

    assert exchange_width_for_bytes(1 << 20) == 32
    assert exchange_width_for_bytes(0) == 32
    mib = 1 << 20
    assert exchange_width_for_bytes(6400 * mib) == 512
    assert exchange_width_for_bytes(100 * (1 << 40)) == 4096
    assert exchange_width_for_bytes(1 << 60) == 4096  # unknown sentinel
    assert exchange_width_for_bytes(1 << 20, floor=64) == 64


def test_incremental_minhash_width_arms_agree(spark, sf_dir, monkeypatch):
    """dedup_incremental_minhash derives its sig-CTE exchange width from
    documents scan bytes; a forced 100x-bytes width must return
    identical rows (the width changes exchanges, never semantics)."""
    import bdt_spark.plans as plans
    from bdt_spark.sources import io as bio

    fn = plans.get_query("dedup_incremental_minhash").fn
    small_rows = fn(spark, sf_dir).collect()
    monkeypatch.setattr(bio, "plan_scan_bytes", lambda df: 10 << 30)
    big = fn(spark, sf_dir)  # -> width 1024
    assert "1024" in big._jdf.queryExecution().analyzed().toString()
    assert big.collect() == small_rows
    assert len(small_rows) > 0
