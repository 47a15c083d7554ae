"""Versioned table manifest-commit protocol (operators/versioned.py):
upsert through immutable data dirs, atomic manifest PUT, concurrent
readers, racing writers, vacuum."""

import pytest

from bdt_spark.operators.versioned import (
    ConcurrentCommitError,
    current_version,
    merge_upsert_versioned,
    read_versioned,
    table_versions,
    vacuum_versions,
    write_versioned,
)


@pytest.fixture()
def root(spark, tmp_path):
    r = str(tmp_path / "vtbl")
    df = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(1, 11)], "k int, v string, gen int"
    )
    assert write_versioned(spark, r, df) == 1
    return r


def test_versioned_upsert_updates_and_inserts(spark, root):
    delta = spark.createDataFrame(
        [(5, "v5-new", 2), (11, "v11", 2)], "k int, v string, gen int"
    )
    assert merge_upsert_versioned(spark, root, delta, ["k"]) == 2
    got = {r.k: (r.v, r.gen) for r in read_versioned(spark, root).collect()}
    assert len(got) == 11
    assert got[5] == ("v5-new", 2)
    assert got[11] == ("v11", 2)
    assert got[4] == ("v4", 1)


def test_versioned_concurrent_reader_sees_consistent_version(spark, root):
    """A reader holding version N keeps a fully consistent view while N+1
    commits — the property the os.rename swap cannot give: the old data
    dir is immutable and still on disk."""
    old = read_versioned(spark, root)  # resolves to v1, lazily
    delta = spark.createDataFrame([(5, "v5-new", 2)], "k int, v string, gen int")
    merge_upsert_versioned(spark, root, delta, ["k"])
    # collect AFTER the commit: the v1 scan is untouched by v2
    got = {r.k: r.v for r in old.collect()}
    assert got[5] == "v5" and len(got) == 10
    # a fresh resolution sees v2
    assert read_versioned(spark, root).filter("k = 5").first().v == "v5-new"


def test_versioned_racing_writer_loses_cleanly(spark, root):
    """Two writers computing the same next version: exactly one manifest
    PUT wins; the loser raises and leaves no visible state change."""
    from bdt_spark.operators import versioned as V

    # simulate the race: the rival's attempt dir + manifest for v2 land first
    rival = spark.createDataFrame([(99, "rival", 9)], "k int, v string, gen int")
    rival.write.parquet(f"{root}/data/v00000002-rival0000dead")
    V._commit_manifest(
        spark, root, 2, {"rows": 1, "data_dir": "data/v00000002-rival0000dead"}
    )

    delta = spark.createDataFrame([(5, "mine", 2)], "k int, v string, gen int")
    with pytest.raises(ConcurrentCommitError):
        # loser resolved next=2 BEFORE the rival landed, computed its merge
        # against v1, and now tries to commit v2 as well
        df = read_versioned(spark, root, version=1)
        merged = df.filter("k != 5").unionByName(delta)
        V.write_versioned(spark, root, merged, version=2)
    # table state is the rival's commit, untouched by the loser; the
    # loser's attempt dir was reclaimed
    assert current_version(spark, root) == 2
    assert read_versioned(spark, root).first().v == "rival"
    import os

    attempts = [
        d for d in os.listdir(f"{root}/data") if d.startswith("v00000002")
    ]
    assert attempts == ["v00000002-rival0000dead"]


def test_versioned_vacuum_removes_old_and_orphans(spark, root):
    for gen in (2, 3, 4):
        delta = spark.createDataFrame(
            [(1, f"g{gen}", gen)], "k int, v string, gen int"
        )
        merge_upsert_versioned(spark, root, delta, ["k"])
    # orphan: attempt dir without a manifest (crash between step 1 and 2)
    spark.createDataFrame([(0, "orphan", 0)], "k int, v string, gen int").write.parquet(
        f"{root}/data/v00000099-deadbeef0000"
    )
    # a FRESH unreferenced attempt dir is an in-flight writer, not an
    # orphan: the default age guard must keep it
    removed = vacuum_versions(spark, root, keep_last=2)
    assert removed == [1, 2]
    import os

    assert os.path.isdir(f"{root}/data/v00000099-deadbeef0000")
    # with the guard waived (caller asserts no writer in flight) it goes
    removed = vacuum_versions(spark, root, keep_last=2, orphan_min_age_s=0)
    assert removed == [99]
    assert table_versions(spark, root) == [3, 4]
    # survivors still readable, newest state intact
    assert read_versioned(spark, root).filter("k = 1").first().v == "g4"
    assert read_versioned(spark, root, version=3).count() == 10


def test_commit_readback_detects_lost_nonatomic_race(spark, root, monkeypatch):
    """On a store where create(overwrite=False) is HEAD-then-PUT (plain
    S3A), two racing PUTs can both 'succeed'. The commit reads the
    manifest back and checks its attempt token, so the overwritten
    writer raises instead of silently losing its merge."""
    import bdt_spark.operators.versioned as V

    monkeypatch.setattr(
        V, "read_manifest", lambda *a, **k: {"attempt": "rival-writer"}
    )
    with pytest.raises(ConcurrentCommitError, match="non-atomic"):
        V._commit_manifest(
            spark, root, 42, {"rows": 0, "data_dir": "data/v00000042-x"}
        )


def test_commit_ioerror_is_not_masked_as_concurrency(spark, root):
    """A create failure that is NOT an exists-collision must surface as
    the real error, not ConcurrentCommitError (which tells the caller to
    retry forever against a commit that never happened)."""
    import bdt_spark.operators.versioned as V

    # root path inside a FILE (not a dir) -> create fails with an IO
    # error that is not FileAlreadyExists
    bad_root = f"{root}/_manifests/v00000001.json/sub"
    with pytest.raises(Exception) as ei:
        V._commit_manifest(spark, bad_root, 1, {"rows": 0, "data_dir": "d"})
    assert not isinstance(ei.value, ConcurrentCommitError)


def test_versioned_rejects_schema_drift(spark, root):
    bad = spark.createDataFrame([(1, "x")], "k int, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert_versioned(spark, root, bad, ["k"])


def test_versioned_file_uri_roundtrip(spark, tmp_path):
    """Hadoop-FS path handling: the same code path serves URI schemes."""
    root = "file://" + str(tmp_path / "uri_tbl")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    assert write_versioned(spark, root, df) == 1
    delta = spark.createDataFrame([(2, "b")], "k int, v string")
    assert merge_upsert_versioned(spark, root, delta, ["k"]) == 2
    assert read_versioned(spark, root).count() == 2


def test_upsert_rejects_empty_file_uri(spark):
    from bdt_spark.operators.upsert import merge_upsert

    delta = spark.createDataFrame([(1, "x")], "k int, v string")
    with pytest.raises(ValueError, match="malformed file URI"):
        merge_upsert(spark, "file://", delta, ["k"])


def test_two_simultaneous_committers_one_wins_loser_retries(spark, root):
    """TRUE concurrency (threads, not sequential simulation): two writers
    race the exclusive manifest create for the same version from a
    barrier. Exactly one v2 PUT wins; the loser sees
    ConcurrentCommitError and retries against the new current version;
    meanwhile a reader polling throughout must never observe a torn
    snapshot (count drift, missing data dir, or non-monotonic version)."""
    import threading
    import time as _time

    results: dict = {}
    reader_errors: list = []
    barrier = threading.Barrier(2)
    done = threading.Event()

    def writer(name: str):
        delta = spark.createDataFrame(
            [(5, name, 42)], "k int, v string, gen int"
        )
        base = read_versioned(spark, root, version=1)
        merged = base.filter("k != 5").unionByName(delta)
        barrier.wait(timeout=60)
        attempts = 1
        try:
            v = write_versioned(spark, root, merged, version=2)
        except ConcurrentCommitError:
            # retry path: re-resolve the current version, re-merge
            while True:
                attempts += 1
                try:
                    v = merge_upsert_versioned(spark, root, delta, ["k"])
                    break
                except ConcurrentCommitError:
                    continue
        results[name] = (v, attempts)

    def reader():
        last_v = 0
        while not done.is_set():
            try:
                v = current_version(spark, root)
                if v is None or v < last_v:
                    reader_errors.append(f"version went backwards: {v}")
                    return
                last_v = v
                if read_versioned(spark, root, version=v).count() != 10:
                    reader_errors.append(f"torn snapshot at v{v}")
                    return
            except Exception as e:  # noqa: BLE001
                reader_errors.append(f"reader crashed: {e}")
                return
            _time.sleep(0.02)

    threads = [
        threading.Thread(target=writer, args=("alpha",)),
        threading.Thread(target=writer, args=("beta",)),
    ]
    rt = threading.Thread(target=reader)
    rt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    done.set()
    rt.join(timeout=60)

    assert not reader_errors, reader_errors
    assert len(results) == 2, results
    versions = sorted(v for v, _ in results.values())
    assert versions == [2, 3], results  # exactly one won v2; loser landed v3
    [(_, loser_attempts)] = [r for r in results.values() if r[0] == 3]
    assert loser_attempts >= 2  # the loser genuinely retried
    # final state: v3's writer owns key 5; the table is intact
    final = read_versioned(spark, root)
    assert final.count() == 10
    winner_v3 = [n for n, (v, _) in results.items() if v == 3][0]
    assert final.filter("k = 5").first().v == winner_v3


def test_lease_election_exactly_one_of_n_racing_writers_wins(spark, root):
    """HARD-exclusivity lease (round 7): N concurrent candidates for the
    same version, exactly ONE elects itself — deterministically (the
    winner is the smallest (ts, token), a total order), every loser gets
    ConcurrentCommitError BEFORE touching the manifest."""
    import threading

    from bdt_spark.operators.versioned import acquire_commit_lease

    n = 8
    results: dict[int, str | None] = {}
    barrier = threading.Barrier(n)

    def race(i: int) -> None:
        barrier.wait()
        try:
            results[i] = acquire_commit_lease(
                spark, root, version=2, settle_s=0.5
            )
        except ConcurrentCommitError:
            results[i] = None

    threads = [threading.Thread(target=race, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [tok for tok in results.values() if tok is not None]
    assert len(winners) == 1, f"expected exactly one winner, got {results}"


def test_lease_skewed_clock_still_single_winner(spark, root):
    """Two writers whose clocks disagree by less than the settle window:
    the back-dated candidate wins the election even though it PUT second
    — and the other concedes, so there is still exactly one winner."""
    import threading

    from bdt_spark.operators.versioned import acquire_commit_lease

    results: dict[str, str | None] = {}
    start = threading.Barrier(2)

    def writer(name: str, skew_ms: int, delay_s: float) -> None:
        start.wait()
        import time as _t

        _t.sleep(delay_s)
        try:
            results[name] = acquire_commit_lease(
                spark, root, version=2, settle_s=1.0, _clock_skew_ms=skew_ms
            )
        except ConcurrentCommitError:
            results[name] = None

    # "late" PUTs 0.3 s after "early" but with a clock 400 ms behind, so
    # its candidate timestamp sorts FIRST; settle 1.0 s > 2*skew +
    # visibility, so early's listing must still see it and concede.
    a = threading.Thread(target=writer, args=("early", 0, 0.0))
    b = threading.Thread(target=writer, args=("late", -400, 0.3))
    a.start(); b.start(); a.join(); b.join()
    assert (results["early"] is None) != (results["late"] is None)
    assert results["late"] is not None, (
        "back-dated candidate holds the smallest timestamp and must win"
    )


def test_lease_expired_candidate_does_not_block(spark, root):
    """A crashed writer's stale candidate (older than ttl_s) is ignored
    and reaped; the next writer acquires the lease normally."""
    from bdt_spark.operators.versioned import (
        acquire_commit_lease,
        release_commit_lease,
    )

    # fake a crashed writer: candidate planted 10 s in the past
    import json as _json
    import time as _time
    import uuid as _uuid

    from bdt_spark.sources.io import hadoop_fs

    fs, lock_dir = hadoop_fs(spark, f"{root}/_locks/v{2:08d}")
    fs.mkdirs(lock_dir)
    ts = int((_time.time() - 10) * 1000)
    tok = _uuid.uuid4().hex
    out = fs.create(lock_dir.suffix(f"/cand-{ts:020d}-{tok}.json"), False)
    out.write(bytearray(_json.dumps({"ts_ms": ts, "token": tok}).encode()))
    out.close()

    got = acquire_commit_lease(spark, root, version=2, settle_s=0.1, ttl_s=5.0)
    assert got is not None and got != tok
    release_commit_lease(spark, root, 2)


def test_lease_guarded_write_commits_and_cleans_lock_dir(spark, root):
    delta = spark.createDataFrame([(1, "v1-n", 2)], "k int, v string, gen int")
    v = merge_upsert_versioned(spark, root, delta, ["k"], lease_settle_s=0.1)
    assert v == 2
    got = {r.k: r.v for r in read_versioned(spark, root).collect()}
    assert got[1] == "v1-n" and len(got) == 10
    from bdt_spark.sources.io import hadoop_fs

    fs, lock_dir = hadoop_fs(spark, f"{root}/_locks/v{2:08d}")
    assert not fs.exists(lock_dir)


def test_lease_late_rival_after_release_gets_protocol_error(spark, root):
    """Code-review r7: a rival that finishes settling AFTER the winner
    committed and released (lock dir deleted) must get the retryable
    ConcurrentCommitError, not an opaque FileNotFound Py4J error."""
    import threading

    from bdt_spark.operators.versioned import acquire_commit_lease

    results: dict[str, object] = {}

    def fast_winner():
        from bdt_spark.operators.versioned import (
            _commit_manifest,
            release_commit_lease,
        )

        tok = acquire_commit_lease(spark, root, version=2, settle_s=0.2)
        _commit_manifest(spark, root, 2, {"rows": 0, "data_dir": "data/x"})
        release_commit_lease(spark, root, 2)  # commit done, dir swept
        results["winner"] = tok

    def slow_rival():
        import time as _t

        _t.sleep(0.4)  # PUT after the winner already listed
        try:
            results["rival"] = acquire_commit_lease(
                spark, root, version=2, settle_s=1.0
            )
        except ConcurrentCommitError:
            results["rival"] = "conceded"
        except Exception as e:  # pragma: no cover
            results["rival"] = f"WRONG ERROR: {type(e).__name__}"

    a = threading.Thread(target=fast_winner)
    b = threading.Thread(target=slow_rival)
    a.start(); b.start(); a.join(); b.join()
    assert results["winner"] is not None
    assert results["rival"] == "conceded", results


def test_lease_released_on_commit_failure_version_stays_retryable(
    spark, root, monkeypatch
):
    """Code-review r7: a transient manifest-commit fault after WINNING the
    election must drop the winner's candidate — otherwise every retry of
    that version loses the election against the abandoned candidate until
    the TTL expires (a 10-minute liveness stall from one fault)."""
    import bdt_spark.operators.versioned as vz

    df = read_versioned(spark, root)
    boom = RuntimeError("transient IO")
    real_commit = vz._commit_manifest

    calls = {"n": 0}

    def flaky_commit(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise boom
        return real_commit(*a, **kw)

    monkeypatch.setattr(vz, "_commit_manifest", flaky_commit)
    with pytest.raises(RuntimeError, match="transient IO"):
        write_versioned(spark, root, df, version=2, lease_settle_s=0.1)
    # immediate retry (no TTL wait) must win the election and commit
    assert write_versioned(spark, root, df, version=2, lease_settle_s=0.1) == 2


def test_lease_sweep_between_exists_and_list_is_protocol_error(
    spark, root, monkeypatch
):
    """ADVICE r7: TOCTOU between the exists() guard and listStatus() — a
    rival committing + sweeping the lock dir in that window must surface
    as the retryable ConcurrentCommitError, not a raw Py4J
    FileNotFoundException. Simulated deterministically: a proxy fs whose
    exists() passes the guard, then deletes the dir underneath before
    the listing runs."""
    import bdt_spark.operators.versioned as vz
    from bdt_spark.operators.versioned import acquire_commit_lease
    from bdt_spark.sources.io import hadoop_fs

    real_fs, lock_dir = hadoop_fs(spark, f"{root}/_locks/v{2:08d}")

    class SweepingFs:
        def exists(self, jpath):
            if jpath.toString().endswith(f"_locks/v{2:08d}"):
                # the "rival": swept the whole lease dir mid-window
                real_fs.delete(lock_dir, True)
                return True
            return real_fs.exists(jpath)

        def __getattr__(self, name):  # everything else passes through
            return getattr(real_fs, name)

    monkeypatch.setattr(
        vz, "hadoop_fs", lambda s, p: (SweepingFs(), hadoop_fs(s, p)[1])
    )
    with pytest.raises(ConcurrentCommitError, match="committed"):
        acquire_commit_lease(spark, root, version=2, settle_s=0.05)


def test_lease_nonprotocol_failure_mid_settle_drops_own_candidate(
    spark, root, monkeypatch
):
    """ADVICE r7: a NON-protocol exception after the candidate PUT (here:
    an interrupt during the settle sleep) must best-effort delete the
    writer's own candidate before re-raising — otherwise the version is
    blocked for every writer until ttl_s (600 s default) expires."""
    import bdt_spark.operators.versioned as vz
    from bdt_spark.operators.versioned import acquire_commit_lease
    from bdt_spark.sources.io import hadoop_fs

    def interrupted(_s):
        raise RuntimeError("simulated interrupt mid-settle")

    monkeypatch.setattr(vz.time, "sleep", interrupted)
    with pytest.raises(RuntimeError, match="mid-settle"):
        acquire_commit_lease(spark, root, version=2, settle_s=5.0)
    monkeypatch.undo()

    fs, lock_dir = hadoop_fs(spark, f"{root}/_locks/v{2:08d}")
    leftovers = (
        [st.getPath().getName() for st in fs.listStatus(lock_dir)]
        if fs.exists(lock_dir)
        else []
    )
    assert not any(n.startswith("cand-") for n in leftovers), leftovers
    # and the version is immediately retryable — no TTL wait
    tok = acquire_commit_lease(spark, root, version=2, settle_s=0.1)
    assert tok


def test_commit_visibility_is_atomic_with_content(spark, root):
    """r11: the commit point must never expose a manifest whose name is
    visible but whose content is incomplete. On local FS the commit is
    tmp-write + hardlink, so: (a) the committed manifest parses and
    carries its payload immediately, (b) no tmp residue survives a
    successful commit, (c) a crashed writer's tmp garbage (simulated) is
    invisible to table_versions/current_version and does not block the
    next commit."""
    import os

    from bdt_spark.operators.versioned import _commit_manifest, read_manifest

    mdir = os.path.join(root, "_manifests")
    # (c) simulate a writer that died after tmp-write, before link
    orphan = os.path.join(mdir, ".tmp-v00000002.json-deadbeef")
    with open(orphan, "w") as f:
        f.write("")  # even an EMPTY tmp (crashed pre-payload) must be inert
    assert table_versions(spark, root) == [1]
    assert current_version(spark, root) == 1

    _commit_manifest(spark, root, 2, {"rows": 0, "data_dir": "data/v00000002-x"})
    # (a) visible AND complete in one step
    m = read_manifest(spark, root, 2)
    assert m["data_dir"] == "data/v00000002-x" and "attempt" in m
    assert current_version(spark, root) == 2
    # (b) the commit's own tmp is gone; only the orphan we planted remains
    residue = [p for p in os.listdir(mdir) if p.startswith(".tmp-")]
    assert residue == [".tmp-v00000002.json-deadbeef"]

    # duplicate version -> ConcurrentCommitError, loser leaves no residue
    # and does NOT clobber the winner's content
    with pytest.raises(ConcurrentCommitError):
        _commit_manifest(spark, root, 2, {"rows": 0, "data_dir": "data/v00000002-y"})
    assert read_manifest(spark, root, 2)["data_dir"] == "data/v00000002-x"
    residue = [p for p in os.listdir(mdir) if p.startswith(".tmp-")]
    assert residue == [".tmp-v00000002.json-deadbeef"]

    # vacuum sweeps aged-out tmp garbage (orphan_min_age_s=0 here, since
    # the test cannot wait out the in-flight-writer age gate), but never
    # the committed manifests themselves
    vacuum_versions(spark, root, keep_last=2, orphan_min_age_s=0)
    assert [p for p in os.listdir(mdir) if p.startswith(".tmp-")] == []
    assert table_versions(spark, root) == [1, 2]
