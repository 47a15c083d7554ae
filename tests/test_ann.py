"""Persistent IVF index: build determinism, probe recall vs brute force."""

import pytest

from pyspark.sql import functions as F

from bdt_spark.operators.ann import build_ivf_index, ivf_probe
from bdt_spark.sources.io import read_file


@pytest.fixture(scope="module")
def index_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    emb = read_file(spark, f"{sf_dir}/embeddings.parquet")
    build_ivf_index(spark, emb, path, k=10, n_iters=3)
    return path


def test_index_layout(spark, index_path):
    cen = spark.read.parquet(f"{index_path}/centroids")
    asg = spark.read.parquet(f"{index_path}/assignments")
    assert cen.count() <= 10
    assert asg.select("vec_id").distinct().count() == asg.count()
    # every vector got exactly one cluster; norms materialized at build
    assert set(asg.columns) == {"vec_id", "cluster_id", "embedding", "nrm"}
    assert asg.filter("nrm IS NULL OR nrm < 0").count() == 0


def test_probe_full_nprobe_equals_bruteforce(spark, sf_dir, index_path):
    # with nprobe = k (no pruning) the index is EXACT: it must reproduce
    # brute-force top-5 bit-for-bit — the data-independent correctness
    # property of IVF
    emb = read_file(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    got = ivf_probe(spark, index_path, queries, topk=5, nprobe=10).collect()

    from bdt_spark.operators.ann import _cos_sim_pre, _norm
    from pyspark.sql import Window

    sim = F.expr(_cos_sim_pre("q_vec", "embedding", "q_nrm", "v_nrm"))
    w = Window.partitionBy("q_id").orderBy(
        F.round(sim, 9).desc(), F.col("vec_id").asc()
    )
    truth = (
        queries.select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec"))
        .withColumn("q_nrm", F.expr(_norm("q_vec")))
        .crossJoin(emb.select("vec_id", "embedding"))
        .withColumn("v_nrm", F.expr(_norm("embedding")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "vec_id", "rk")
        .collect()
    )
    assert {(r.q_id, r.vec_id, r.rk) for r in got} == {
        (r.q_id, r.vec_id, r.rk) for r in truth
    }

    # pruned probe: recall is bounded by the data (fixture embeddings'
    # cosine neighborhoods are label-independent, so ~nprobe/k is the
    # ceiling); assert the candidate pruning beats its own fraction
    pruned = ivf_probe(spark, index_path, queries, topk=5, nprobe=4).collect()
    truth_sets, got_sets = {}, {}
    for r in truth:
        truth_sets.setdefault(r.q_id, set()).add(r.vec_id)
    for r in pruned:
        got_sets.setdefault(r.q_id, set()).add(r.vec_id)
    recall = sum(
        len(got_sets[q] & truth_sets[q]) / 5 for q in truth_sets
    ) / len(truth_sets)
    assert recall >= 4 / 10, f"recall {recall} below pruning fraction"


def test_build_is_deterministic(spark, sf_dir, index_path, tmp_path):
    emb = read_file(spark, f"{sf_dir}/embeddings.parquet")
    path2 = str(tmp_path / "idx2")
    build_ivf_index(spark, emb, path2, k=10, n_iters=3)
    a1 = {
        (r.vec_id, r.cluster_id)
        for r in spark.read.parquet(f"{index_path}/assignments")
        .select("vec_id", "cluster_id").collect()
    }
    a2 = {
        (r.vec_id, r.cluster_id)
        for r in spark.read.parquet(f"{path2}/assignments")
        .select("vec_id", "cluster_id").collect()
    }
    assert a1 == a2


def test_probe_zero_norm_vectors_dropped(spark, tmp_path):
    """All-zero embeddings (no cosine direction) must be filtered out of
    probe results, not NaN-misranked (regression: unguarded 0/0)."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),  # zero vector in the index
            (3, [0.0, 1.0]),
        ],
        "vec_id int, embedding array<double>",
    )
    path = str(tmp_path / "zidx")
    build_ivf_index(spark, emb, path, k=2, n_iters=2)
    out = ivf_probe(
        spark, path, emb.filter(F.col("vec_id") == 0), topk=3, nprobe=2
    ).collect()
    ids = [r.vec_id for r in out]
    assert 2 not in ids                      # zero vector never ranked
    assert all(r.cos_sim is not None for r in out)
    # zero-vector QUERY yields no rows rather than NaN ranks
    qz = ivf_probe(
        spark, path, emb.filter(F.col("vec_id") == 2), topk=3, nprobe=2
    ).collect()
    assert qz == []


def _scan_metrics(q, *metric_names):
    """Executed-plan leaf scan metrics for the (single) parquet scan in q."""
    q.collect()
    leaves = q._jdf.queryExecution().executedPlan().collectLeaves()
    got = {}
    for i in range(leaves.size()):
        metrics = leaves.apply(i).metrics()
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in metric_names:
                got[kv._1()] = kv._2().value()
    missing = set(metric_names) - set(got)
    assert not missing, f"scan metrics absent: {missing}"
    return got


def test_assignments_layout_is_hive_partitioned(index_path):
    import os

    dirs = [
        d
        for d in os.listdir(f"{index_path}/assignments")
        if d.startswith("cluster_id=")
    ]
    assert len(dirs) >= 2, f"expected cluster_id=N dirs, got {dirs}"


def test_probe_isin_prunes_files(spark, index_path):
    """The probe's cluster_id isin pushdown must prune at FILE level on
    the hive layout: scanning one probed cluster opens only that
    cluster's file(s) and produces only its rows (executed-scan metrics,
    same proof style as tests/test_layout.py bloom skipping)."""
    import os

    asg = f"{index_path}/assignments"
    dirs = sorted(
        d for d in os.listdir(asg) if d.startswith("cluster_id=")
    )
    total_files = sum(
        len([f for f in os.listdir(f"{asg}/{d}") if f.endswith(".parquet")])
        for d in dirs
    )
    c0 = int(dirs[0].split("=")[1])
    c0_files = len(
        [f for f in os.listdir(f"{asg}/{dirs[0]}") if f.endswith(".parquet")]
    )
    c0_rows = spark.read.parquet(asg).filter(
        F.col("cluster_id") == c0
    ).count()
    all_rows = spark.read.parquet(asg).count()
    assert 0 < c0_rows < all_rows

    pruned = _scan_metrics(
        spark.read.parquet(asg).filter(F.col("cluster_id").isin([c0])),
        "numFiles",
        "numOutputRows",
    )
    control = _scan_metrics(
        spark.read.parquet(asg), "numFiles", "numOutputRows"
    )
    assert pruned["numFiles"] == c0_files, pruned
    assert pruned["numOutputRows"] == c0_rows, pruned
    assert control["numFiles"] == total_files
    assert control["numOutputRows"] == all_rows


def test_probe_plan_carries_partition_filter(spark, sf_dir, index_path):
    """End-to-end: the ivf_probe plan's ASSIGNMENTS scan carries a
    PartitionFilters entry on cluster_id (driver-collected partition
    filter), and a probe of a single cluster returns the same rows as
    before the layout change (exactness is pinned by the nprobe=k test
    above). The probes subtree keeps its own (unpartitioned) centroid
    scan in the plan, so match every scan's filter list, not the first."""
    from bdt_spark.operators.cacheutil import release

    emb = read_file(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") == 0)
    out = ivf_probe(spark, index_path, queries, topk=3, nprobe=1)
    rows = out.collect()
    assert len(rows) == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    release(out)
    import re

    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters, plan
    assert any("cluster_id" in f for f in filters), filters


def test_ivf_probe_release_leaves_no_residue(spark, sf_dir, index_path):
    """ivf_probe persists its probe table internally (lineage-intact
    MEMORY_AND_DISK, annotated caller-owned); cacheutil.release must
    drop it — and because the cache is a plain persist, an action AFTER
    release still works by recomputing through the lineage."""
    from bdt_spark.operators.cacheutil import release

    emb = read_file(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    out = ivf_probe(spark, index_path, queries, topk=3, nprobe=2)
    first = [(r.q_id, r.vec_id) for r in out.collect()]
    release(out)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after - before == set(), sorted(after - before)
    # recompute-after-release: same answer, no missing-block failure
    assert [(r.q_id, r.vec_id) for r in out.collect()] == first


# --- incremental index maintenance (VERDICT r14 #3) ------------------------


def _vecs(spark, ids, dim=8, scale=1.0, shift=0):
    """Deterministic synthetic vectors: vec i has a distinct direction."""
    rows = [
        (
            i,
            [
                scale * (1.0 + ((i * 7 + j * 3 + shift) % 11))
                for j in range(dim)
            ],
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_update_assignment_matches_assign(spark, tmp_path):
    """The zero-shuffle literal-argmin assignment in update_ivf_index
    must agree with the window-based _assign the build uses, per id —
    the two paths share rounding and tie-break order by construction."""
    from bdt_spark.operators.ann import (
        _assign,
        build_ivf_index,
        update_ivf_index,
    )

    path = str(tmp_path / "idx")
    base = _vecs(spark, range(0, 40))
    build_ivf_index(spark, base, path, k=4, n_iters=2)
    batch = _vecs(spark, range(100, 130), shift=5)
    update_ivf_index(spark, path, batch, batch_id="b0")

    centroids = spark.read.parquet(f"{path}/centroids")
    want = {
        (r.vec_id, r.cluster_id)
        for r in _assign(batch, centroids).collect()
    }
    inc = spark.read.parquet(f"{path}/increments")
    got = {
        (r.vec_id, int(r.cluster_id)) for r in inc.collect()
    }
    assert got == want and len(got) == 30


def test_incremental_probe_exact_at_full_nprobe(spark, tmp_path):
    """With nprobe = k the incremental index (base + increments) must
    reproduce brute-force top-k over the UNION corpus bit-for-bit —
    the same exactness property the base index satisfies, now covering
    the increment union + latest-wins resolution plumbing."""
    from pyspark.sql import Window

    from bdt_spark.operators.ann import (
        _cos_sim_pre,
        _norm,
        build_ivf_index,
        ivf_probe,
        update_ivf_index,
    )
    from bdt_spark.operators.cacheutil import release

    path = str(tmp_path / "idx")
    base = _vecs(spark, range(0, 30))
    batch = _vecs(spark, range(100, 120), shift=3)
    build_ivf_index(spark, base, path, k=4, n_iters=2)
    update_ivf_index(spark, path, batch, batch_id="b0")

    queries = _vecs(spark, [0, 5, 101])
    got_df = ivf_probe(spark, path, queries, topk=5, nprobe=4)
    got = {(r.q_id, r.vec_id, r.rk) for r in got_df.collect()}
    release(got_df)

    union = base.unionByName(batch)
    sim = F.expr(_cos_sim_pre("q_vec", "embedding", "q_nrm", "v_nrm"))
    w = Window.partitionBy("q_id").orderBy(
        F.round(sim, 9).desc(), F.col("vec_id").asc()
    )
    truth = (
        queries.select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        .withColumn("q_nrm", F.expr(_norm("q_vec")))
        .crossJoin(union.select("vec_id", "embedding"))
        .withColumn("v_nrm", F.expr(_norm("embedding")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "vec_id", "rk")
        .collect()
    )
    assert got == {(r.q_id, r.vec_id, r.rk) for r in truth}
    # increment vectors actually surface in results
    assert any(v >= 100 for (_, v, _) in got)


def test_update_replay_idempotent_and_compaction(spark, tmp_path):
    """Replaying a batch_id overwrites exactly its own increment
    partitions (at-least-once -> exactly-once index state); compaction
    folds increments into the cluster-local base without changing any
    probe result and restores the single-level layout."""
    import os

    from bdt_spark.operators.ann import (
        build_ivf_index,
        compact_ivf_index,
        ivf_probe,
        update_ivf_index,
    )
    from bdt_spark.operators.cacheutil import release

    path = str(tmp_path / "idx")
    build_ivf_index(spark, _vecs(spark, range(0, 30)), path, k=4, n_iters=2)
    batch = _vecs(spark, range(100, 115), shift=3)
    update_ivf_index(spark, path, batch, batch_id="00000000000000000001")
    queries = _vecs(spark, [2, 104])

    def probe_rows():
        df = ivf_probe(spark, path, queries, topk=5, nprobe=2)
        rows = df.collect()
        release(df)
        return rows

    first = probe_rows()
    assert len(first) == 10

    # replay: same batch_id, same rows — state and probes unchanged
    update_ivf_index(spark, path, batch, batch_id="00000000000000000001")
    assert spark.read.parquet(f"{path}/increments").count() == 15
    assert probe_rows() == first

    folded = compact_ivf_index(spark, path)
    assert folded == 1
    assert not os.path.exists(f"{path}/increments")
    asg = spark.read.parquet(f"{path}/assignments")
    assert asg.count() == 45
    assert probe_rows() == first
    # compacting an already-compact index is a no-op
    assert compact_ivf_index(spark, path) == 0


def test_compact_lists_increments_without_a_job(spark, tmp_path, monkeypatch):
    """compact_ivf_index counts its increment batches from the
    driver-side partition listing: before its write it runs only the
    schema jobs of reading the increments and the base."""
    from harness import jobs_before_write, jobs_started

    from bdt_spark.operators.ann import (
        build_ivf_index,
        compact_ivf_index,
        update_ivf_index,
    )
    from bdt_spark.operators.dedup import _read_state_untyped

    path = str(tmp_path / "idx")
    build_ivf_index(spark, _vecs(spark, range(0, 30)), path, k=4, n_iters=2)
    for b in (1, 2):
        update_ivf_index(
            spark, path, _vecs(spark, range(100 * b, 100 * b + 5)),
            batch_id=f"{b:020d}",
        )
    read_jobs = jobs_started(spark, lambda: (
        _read_state_untyped(spark, f"{path}/increments"),
        spark.read.parquet(f"{path}/assignments"),
    ))
    before = jobs_before_write(
        spark, lambda: compact_ivf_index(spark, path), monkeypatch
    )
    assert len(before) == len(read_jobs)
    assert compact_ivf_index(spark, path) == 2


def test_update_reingest_latest_wins(spark, tmp_path):
    """A vec_id re-ingested with CHANGED values in a later monotone
    batch scores against its NEW embedding (probe-side latest-wins),
    and compaction keeps exactly the new version."""
    from bdt_spark.operators.ann import (
        build_ivf_index,
        compact_ivf_index,
        ivf_probe,
        update_ivf_index,
    )
    from bdt_spark.operators.cacheutil import release

    path = str(tmp_path / "idx")
    build_ivf_index(spark, _vecs(spark, range(0, 30)), path, k=4, n_iters=2)
    v1 = _vecs(spark, [100], shift=1)
    # changed content, same id — a geometric direction no (mod-11 grid)
    # base vector is parallel to, so cos_sim 1.0 is unique to vec 100
    v2 = spark.createDataFrame(
        [(100, [float(2**j) for j in range(8)])],
        "vec_id long, embedding array<double>",
    )
    update_ivf_index(spark, path, v1, batch_id="00000000000000000001")
    update_ivf_index(spark, path, v2, batch_id="00000000000000000002")

    # query with exactly v2's direction: the re-ingested vector must
    # rank with cos_sim 1.0 (scored against v2, not the stale v1)
    q = spark.createDataFrame(
        [(999, v2.collect()[0].embedding)],
        "vec_id long, embedding array<double>",
    )
    df = ivf_probe(spark, path, q, topk=1, nprobe=4)
    rows = df.collect()
    release(df)
    assert [(r.vec_id, r.cos_sim) for r in rows] == [(100, 1.0)]

    compact_ivf_index(spark, path)
    asg = spark.read.parquet(f"{path}/assignments")
    assert asg.filter("vec_id = 100").count() == 1
    df = ivf_probe(spark, path, q, topk=1, nprobe=4)
    rows2 = df.collect()
    release(df)
    assert [(r.vec_id, r.cos_sim) for r in rows2] == [(100, 1.0)]


def test_index_stats_skew_gate(spark, tmp_path):
    """update_ivf_index surfaces footer-derived cluster counts and a
    recluster recommendation once max/mean skew crosses the threshold —
    the signal that the frozen centroids stopped fitting the data."""
    from bdt_spark.operators.ann import build_ivf_index, update_ivf_index

    path = str(tmp_path / "idx")
    build_ivf_index(spark, _vecs(spark, range(0, 40)), path, k=4, n_iters=2)
    stats = {}
    # a batch of near-identical vectors: all land in ONE cluster
    skewed = spark.createDataFrame(
        [(200 + i, [100.0 + i * 1e-6] * 8) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    update_ivf_index(
        spark, path, skewed, batch_id="b0", stats=stats, skew_threshold=2.0
    )
    assert stats["assigned"] == 120
    assert sum(stats["cluster_counts"].values()) == 160
    assert stats["skew"] > 2.0 and stats["recluster_recommended"]

    # balanced follow-up state on a fresh index: no recommendation
    path2 = str(tmp_path / "idx2")
    build_ivf_index(spark, _vecs(spark, range(0, 40)), path2, k=4, n_iters=2)
    stats2 = {}
    update_ivf_index(
        spark,
        path2,
        _vecs(spark, range(300, 340), shift=2),
        batch_id="b0",
        stats=stats2,
        skew_threshold=4.0,
    )
    assert not stats2["recluster_recommended"]
