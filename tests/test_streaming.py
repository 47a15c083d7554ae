"""Streaming operators drained with availableNow and cross-checked against
their batch equivalents (the Kappa property the module docstring claims)."""

import pytest

from pyspark.sql import functions as F

from bdt_spark.streaming import (
    read_events_stream,
    sessionized_stream,
    stateful_running_max,
    tumbling_counts_stream,
)
from harness import run_to_memory


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def _batch_events(spark, sf_dir):
    from bdt_spark.sources.io import read_file

    return read_file(spark, f"{sf_dir}/events.parquet")


def test_tumbling_counts_matches_batch(spark, sf_dir, events_stream):
    got = run_to_memory(
        spark, tumbling_counts_stream(events_stream), "t_tumble"
    ).orderBy("win_start", "event_type")
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy(F.window("ts", "15 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("win_start", "event_type")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in batch.collect()
    ]


def test_session_windows_stream(spark, sf_dir, events_stream):
    got = run_to_memory(
        spark, sessionized_stream(events_stream), "t_sess"
    )
    assert got.count() > 0
    row = got.orderBy("user_id", "sess_start").first()
    assert row.n_events >= 1 and row.total_value is not None


def test_stateful_running_max(spark, sf_dir, events_stream):
    got = run_to_memory(
        spark,
        stateful_running_max(events_stream),
        "t_runmax",
        output_mode="update",
    )
    # update-mode memory sink appends each micro-batch's emission; the last
    # row per user is the final state.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    final = (
        got.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.max("value").alias("running_max"), F.count("*").alias("n_seen")
        )
    )
    got_map = {r.user_id: (r.running_max, r.n_seen) for r in final.collect()}
    for r in batch.collect():
        assert got_map[r.user_id] == (r.running_max, r.n_seen)


def test_stateful_running_max_rejects_removed_timeout_arg(events_stream):
    """The old signature accepted timeout_ms and silently ignored it —
    promising idle-state eviction that never happened. The argument is
    gone (the ProcessingTimeTimeout path is broken on this Spark build,
    see the operator docstring); passing it must fail loudly, not lie."""
    with pytest.raises(TypeError):
        stateful_running_max(events_stream, timeout_ms=60_000)


def test_streaming_dedup_with_watermark(spark, sf_dir, events_stream):
    deduped = (
        events_stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
    )
    got = run_to_memory(spark, deduped, "t_dedup", output_mode="append")
    batch = (
        _batch_events(spark, sf_dir)
        .dropDuplicates(["user_id", "event_type"])
        .count()
    )
    assert got.count() == batch


@pytest.mark.slow
def test_stream_stream_interval_join(spark, sf_dir, events_stream):
    from bdt_spark.streaming.windows import purchases_after_errors_stream

    got = run_to_memory(
        spark,
        purchases_after_errors_stream(events_stream),
        "t_ssjoin",
        output_mode="append",
    )
    ev = _batch_events(spark, sf_dir)
    errors = ev.filter("event_type = 'error'")
    purchases = ev.filter("event_type = 'purchase'")
    expected = errors.alias("e").join(
        purchases.alias("p"),
        F.expr(
            "e.user_id = p.user_id AND p.ts > e.ts"
            " AND p.ts <= e.ts + INTERVAL 1 HOUR"
        ),
    ).count()
    assert got.count() == expected


def test_stream_static_dim_join(spark, sf_dir, events_stream):
    # stream enriched against a static dim (broadcast at micro-batch
    # planning — the streaming analog of the broadcast dim join)
    from pyspark.sql import functions as F

    from bdt_spark.sources.io import read_file

    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"),
         ("error", "ops"), ("view", "engagement")],
        "event_type string, category string",
    )
    enriched = (
        events_stream.join(F.broadcast(dim), "event_type", "left")
        .groupBy("category")
        .agg(F.count("*").alias("n"))
    )
    got = {
        r.category: r.n
        for r in run_to_memory(spark, enriched, "ss_join", "complete").collect()
    }
    batch = read_file(spark, f"{sf_dir}/events.parquet").join(
        dim, "event_type", "left"
    ).groupBy("category").agg(F.count("*").alias("n"))
    want = {r.category: r.n for r in batch.collect()}
    assert got == want


def test_running_max_foreachbatch_matches_batch(spark, sf_dir, events_stream, tmp_path):
    """Stream-vs-batch equality for the foreachBatch state-table operator
    (the timeout-API-free stateful path): the final snapshot must equal
    the batch groupBy max/count exactly."""
    from bdt_spark.streaming import (
        read_running_state,
        running_max_stream_to_parquet,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = running_max_stream_to_parquet(events_stream, state, ckpt)
    q.awaitTermination()
    got = {
        r.user_id: (r.running_max, r.n_seen)
        for r in read_running_state(spark, state).collect()
    }
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    assert len(got) == len(batch) > 0
    for r in batch:
        assert got[r.user_id] == (r.mx, r.n)


def test_merge_running_state_replay_idempotent(spark, sf_dir, tmp_path):
    """A replayed micro-batch rebuilds its own snapshot from the same
    predecessor: counts must NOT double-apply (the failure mode of a
    single mutable state table under foreachBatch's at-least-once)."""
    from bdt_spark.streaming import merge_running_state, read_running_state

    state = str(tmp_path / "state")
    ev = _batch_events(spark, sf_dir).select("user_id", "value")
    b0 = ev.filter(F.col("user_id") % 2 == 0)
    b1 = ev.filter(F.col("user_id") % 2 == 1)
    merge_running_state(spark, state, b0, 0)
    merge_running_state(spark, state, b1, 1)
    once = {
        r.user_id: (r.running_max, r.n_seen)
        for r in read_running_state(spark, state).collect()
    }
    merge_running_state(spark, state, b1, 1)  # replay of batch 1
    twice = {
        r.user_id: (r.running_max, r.n_seen)
        for r in read_running_state(spark, state).collect()
    }
    assert once == twice
    expect = {
        r.user_id: (r.mx, r.n)
        for r in ev.groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert twice == expect


def test_merge_running_state_skips_partial_snapshot_as_base(spark, sf_dir, tmp_path):
    """ADVICE r6: a marker-less (partial, crashed-write) snapshot below
    batch_id must NOT become the merge base — the merge must build on the
    newest COMMITTED predecessor, and the partial dir gets reclaimed."""
    import os
    import shutil

    from bdt_spark.streaming import merge_running_state, read_running_state

    state = str(tmp_path / "state")
    ev = _batch_events(spark, sf_dir).select("user_id", "value")
    b0 = ev.filter(F.col("user_id") % 2 == 0)
    b1 = ev.filter(F.col("user_id") % 2 == 1)
    merge_running_state(spark, state, b0, 0)
    # simulate a crash mid-write of batch 1: parquet data present but no
    # _SUCCESS marker — and worse, only HALF the keys made it to disk
    merge_running_state(spark, state, b1, 1)
    os.remove(os.path.join(state, "v1", "_SUCCESS"))
    # batch 2 must merge against v0 (committed), not the partial v1
    merge_running_state(spark, state, b1, 2)
    got = {
        r.user_id: (r.running_max, r.n_seen)
        for r in read_running_state(spark, state).collect()
    }
    expect = {
        r.user_id: (r.mx, r.n)
        for r in ev.groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert got == expect
    shutil.rmtree(state)


def test_state_table_markers_off_fallback(spark, sf_dir, tmp_path):
    """ADVICE r6: with marksuccessfuljobs=false no snapshot ever shows a
    _SUCCESS marker; merge-base selection and read_running_state fall
    back to part-file existence instead of resetting/raising."""
    from bdt_spark.streaming import merge_running_state, read_running_state

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    old = hconf.get(key, "true")
    hconf.set(key, "false")
    try:
        state = str(tmp_path / "state_nomark")
        ev = _batch_events(spark, sf_dir).select("user_id", "value")
        b0 = ev.filter(F.col("user_id") % 2 == 0)
        b1 = ev.filter(F.col("user_id") % 2 == 1)
        merge_running_state(spark, state, b0, 0)
        merge_running_state(spark, state, b1, 1)
        got = {
            r.user_id: (r.running_max, r.n_seen)
            for r in read_running_state(spark, state).collect()
        }
        expect = {
            r.user_id: (r.mx, r.n)
            for r in ev.groupBy("user_id")
            .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
            .collect()
        }
        assert got == expect
    finally:
        hconf.set(key, old)


def test_state_table_markers_off_through_spark_conf(spark, sf_dir, tmp_path):
    """marksuccessfuljobs=false set through spark.conf reaches Spark's
    committer (no snapshot gets a _SUCCESS marker) and the state table's
    marker check alike: the second batch merges onto the first, so
    n_seen accumulates, and read_running_state reads the newest
    snapshot."""
    import os

    from bdt_spark.streaming import merge_running_state, read_running_state

    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    spark.conf.set(key, "false")
    try:
        state = str(tmp_path / "state_conf_nomark")
        ev = _batch_events(spark, sf_dir).select("user_id", "value")
        merge_running_state(spark, state, ev, 0)
        merge_running_state(spark, state, ev, 1)
        assert not os.path.exists(os.path.join(state, "v1", "_SUCCESS"))
        got = {
            r.user_id: (r.running_max, r.n_seen)
            for r in read_running_state(spark, state).collect()
        }
    finally:
        spark.conf.unset(key)
    expect = {
        r.user_id: (r.mx, 2 * r.n)
        for r in ev.groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert got == expect


def test_streaming_frequent_items_mg_invariants(spark, sf_dir, tmp_path):
    """Streaming Misra-Gries across REAL batch boundaries: split the
    events fixture into 4 files (maxFilesPerTrigger=1 -> 4 micro-
    batches), run the bounded-state operator, and assert the MG
    invariants against exact batch counts — est <= true <= est + err
    per surviving item, every item with true > err survives, and state
    never holds more than k counters (+ threshold ties)."""
    from bdt_spark.streaming.windows import streaming_frequent_items

    pdf = _batch_events(spark, sf_dir).toPandas()
    stream_dir = tmp_path / "mg_stream"
    stream_dir.mkdir()
    for i in range(4):
        pdf.iloc[i::4].to_parquet(stream_dir / f"slice{i}.parquet")

    src = (
        spark.readStream.schema(spark.read.parquet(str(stream_dir)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    got = run_to_memory(
        spark, streaming_frequent_items(src), "t_mgfreq", output_mode="update"
    )
    from pyspark.sql import Window

    final = (
        got.withColumn(
            "max_seen", F.max("n_seen").over(Window.partitionBy("shard"))
        )
        .filter("n_seen = max_seen")
        .drop("max_seen")
        .collect()
    )
    assert final, "stream emitted nothing"

    exact_rows = (
        spark.read.parquet(str(stream_dir))
        .selectExpr(
            "CAST(user_id % 8 AS BIGINT) AS shard",
            "CAST(user_id % (user_id % 31 + 1) AS BIGINT) AS item",
        )
        .groupBy("shard", "item")
        .count()
        .collect()
    )
    exact = {(r.shard, r.item): r["count"] for r in exact_rows}

    by_shard: dict = {}
    for r in final:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) == 8, "every shard must emit (sentinel row)"
    for shard, rows in by_shard.items():
        err = rows[0].err
        summary = {r.item: r.est for r in rows if r.item >= 0}
        # the prune keeps items STRICTLY above the (k+1)-th largest
        # count — at most k survive, ties at the threshold drop to 0
        assert len(summary) <= 12, (shard, len(summary))
        for item, est in summary.items():
            true = exact[(shard, item)]
            assert est <= true <= est + err, (shard, item, est, true, err)
        for (s, item), true in exact.items():
            if s == shard and true > err:
                assert item in summary, (shard, item, true, err)


def test_neardup_stream_to_state(spark, tmp_path):
    """Streaming incremental near-dup: batch 2's docs match batch 1's
    via the persisted state (probe-before-update: a batch never matches
    itself); a restart from the same checkpoint reprocesses nothing;
    re-delivering a processed file under a NEW checkpoint overwrites
    the same batch partitions (exactly-once state + matches)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.streaming.windows import neardup_stream_to_state

    src = tmp_path / "docs_src"
    src.mkdir()
    state = str(tmp_path / "state")
    matches = str(tmp_path / "matches")

    def write_file(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[1] for r in rows],
                }
            ),
            str(src / name),
        )

    schema = "doc_id long, text string"
    a = "the quick brown fox jumps over the lazy dog today"
    b = "pack my box with five dozen liquor jugs right now"

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = neardup_stream_to_state(
            stream, state, matches, str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    write_file("f1.parquet", [(0, a), (2, b)])
    run("ckpt")
    # batch 0 had no prior state: no matches, state seeded
    assert spark.read.parquet(state).count() == 2

    write_file("f2.parquet", [(10, a), (11, "entirely unrelated words here")])
    run("ckpt")  # same checkpoint: only f2 is a new batch
    got = spark.read.parquet(matches).drop("batch").collect()
    assert [(r.incoming_doc_id, r.corpus_doc_id) for r in got] == [(10, 0)]
    assert spark.read.parquet(state).count() == 4

    # no-op restart: nothing new, nothing duplicated
    run("ckpt")
    assert spark.read.parquet(state).count() == 4
    assert spark.read.parquet(matches).count() == 1

    # full replay under a NEW checkpoint with the state RETAINED — the
    # at-least-once worst case (every batch re-delivered after its
    # state write landed). The probe's max_batch bound makes each
    # replayed batch see exactly the pre-batch state, so the final
    # output is byte-identical: no (0,0)/(2,2) self matches from a
    # batch probing its own partition (ADVICE r14).
    run("ckpt2")
    got = spark.read.parquet(matches).drop("batch").collect()
    assert [(r.incoming_doc_id, r.corpus_doc_id) for r in got] == [(10, 0)]
    assert spark.read.parquet(state).count() == 4


def test_embedding_neardup_stream_to_state(spark, tmp_path):
    """Vector analog: batch 2's near-copy of a batch 1 vector is found
    via the persisted sign-LSH index; restart is a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.streaming.windows import embedding_neardup_stream_to_state

    src = tmp_path / "vec_src"
    src.mkdir()
    state = str(tmp_path / "vstate")
    matches = str(tmp_path / "vmatches")
    dim = 64
    base = [1.0 if i % 3 == 0 else 0.5 for i in range(dim)]
    near = [v * (1.1 if i % 2 == 0 else 1.0) for i, v in enumerate(base)]
    ortho = [1.0 if i % 2 else -1.0 for i in range(dim)]

    def write_file(name, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float64())
                    ),
                }
            ),
            str(src / name),
        )

    def run(ckpt):
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = embedding_neardup_stream_to_state(
            stream, state, matches, str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    write_file("f1.parquet", [(0, base), (2, ortho)])
    run("ckpt")
    assert spark.read.parquet(state).count() == 2

    write_file("f2.parquet", [(10, near)])
    run("ckpt")
    got = spark.read.parquet(matches).collect()
    assert [(r.incoming_vec_id, r.corpus_vec_id) for r in got] == [(10, 0)]
    assert got[0].cos_sim > 0.99

    run("ckpt")  # no-op restart
    assert spark.read.parquet(matches).count() == 1
    assert spark.read.parquet(state).count() == 3


def test_ann_stream_to_index(spark, tmp_path):
    """Streaming IVF ingest: micro-batches fold into the persisted index
    (replay-idempotent increment partitions); a probe after the drain
    finds streamed vectors; a restart from the checkpoint is a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.operators.ann import build_ivf_index, ivf_probe
    from bdt_spark.operators.cacheutil import release
    from bdt_spark.streaming.windows import ann_stream_to_index

    dim = 8
    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(i, [1.0 + ((i * 7 + j * 3) % 11) for j in range(dim)])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    build_ivf_index(spark, base, idx, k=3, n_iters=2)

    src = tmp_path / "vec_src"
    src.mkdir()
    uniq = [float(2**j) for j in range(dim)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([100, 101], pa.int64()),
                "embedding": pa.array([uniq, [v * 2 for v in uniq]],
                                      pa.list_(pa.float64())),
            }
        ),
        str(src / "f1.parquet"),
    )

    def run():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .parquet(str(src))
        )
        q = ann_stream_to_index(stream, idx, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    run()
    qdf = spark.createDataFrame(
        [(999, uniq)], "vec_id long, embedding array<double>"
    )
    df = ivf_probe(spark, idx, qdf, topk=2, nprobe=3)
    rows = df.collect()
    release(df)
    # the two streamed vectors are parallel -> both cos_sim 1.0
    assert [(r.vec_id, r.cos_sim) for r in rows] == [(100, 1.0), (101, 1.0)]

    run()  # restart: nothing new, increments unchanged
    inc = spark.read.parquet(f"{idx}/increments")
    assert inc.count() == 2


def test_neardup_stream_stats_surface_hot_buckets(spark, tmp_path):
    """The streaming sink surfaces per-batch dropped-hot-bucket counts
    via stats_out (VERDICT r14 #4): a boilerplate cluster in the state
    that exceeds the cap is reported, not silently dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.streaming.windows import neardup_stream_to_state

    src = tmp_path / "src"
    src.mkdir()
    a = "the quick brown fox jumps over the lazy dog today"

    def write_file(name, rows):
        pq.write_table(
            pa.table(
                {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                 "text": [r[1] for r in rows]}
            ),
            str(src / name),
        )

    # batch 0 seeds the state with 4 identical docs (one hot cluster)
    write_file("f1.parquet", [(i, a) for i in range(4)])
    stats: dict = {}

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = neardup_stream_to_state(
            stream, str(tmp_path / "state"), str(tmp_path / "matches"),
            str(tmp_path / "ckpt"), stats_out=stats, hot_bucket_cap=2,
        )
        q.awaitTermination(120)

    run()
    assert stats == {}  # batch 0 had no state to probe

    write_file("f2.parquet", [(100, a)])
    run()
    bid = "00000000000000000001"
    assert stats[bid]["hot_bucket_cap"] == 2
    assert stats[bid]["hot_buckets_dropped"] > 0
    # every bucket for the probe text was hot -> no match rows emitted
    import glob
    parts = glob.glob(
        str(tmp_path / "matches" / "**" / "*.parquet"), recursive=True
    )
    assert parts == []
