"""Snapshot storage: atomic publish, fingerprint skip, retention, lock."""

import os

import pandas as pd

from darkbo_spark.storage.snapshots import BuildLock, SnapshotTable


def _df(spark, n):
    return spark.createDataFrame(pd.DataFrame({"x": range(n)}))


def test_publish_skip_and_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t1")
    v1 = t.publish(_df(spark, 5), "fp_a")
    assert t.read(spark).count() == 5
    # same fingerprint → no new version
    assert t.publish(_df(spark, 99), "fp_a") == v1
    assert t.read(spark).count() == 5
    # new fingerprint → new version, pointer moves
    v2 = t.publish(_df(spark, 7), "fp_b")
    assert v2 != v1
    assert t.read(spark).count() == 7
    assert t.current_fingerprint() == "fp_b"


def test_retention_keeps_last_three(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t2")
    for i in range(5):
        t.publish(_df(spark, i + 1), f"fp_{i}")
    doomed = t.expire(retain_last=3)
    versions = [d for d in os.listdir(t.dir) if d.startswith("v")]
    assert len(versions) == 3
    assert len(doomed) == 2
    assert t.read(spark).count() == 5  # current untouched


def test_uncommitted_version_invisible_and_cleaned(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t3")
    t.publish(_df(spark, 3), "fp_x")
    # simulate a crash mid-publish: version dir without meta.json
    os.makedirs(os.path.join(t.dir, "v99999_deadbeef", "data"), exist_ok=True)
    assert t.read(spark).count() == 3  # pointer still at committed version
    # a FRESH uncommitted dir may be a concurrent publisher's in-flight
    # write — default expire must NOT touch it
    t.expire(retain_last=3)
    assert os.path.exists(os.path.join(t.dir, "v99999_deadbeef"))
    # once stale (negative threshold here), it is garbage and gets collected
    t.expire(retain_last=3, uncommitted_stale_s=-1.0)
    assert not os.path.exists(os.path.join(t.dir, "v99999_deadbeef"))


def test_build_lock(tmp_path):
    lock = BuildLock(str(tmp_path), "tbl")
    assert lock.acquire("run_a")
    assert not lock.acquire("run_b")  # held
    assert lock.owner() == "run_a"
    lock.release("run_b")  # non-owner release is a no-op
    assert lock.owner() == "run_a"
    lock.release("run_a")
    assert lock.acquire("run_b")
    lock.release("run_b")


def test_hold_times_out_naming_what(tmp_path):
    import pytest

    lock = BuildLock(str(tmp_path), "busy")
    assert lock.acquire("holder")
    try:
        with pytest.raises(RuntimeError, match="nightly-compaction lock busy"):
            with lock.hold("waiter", 0.3, "nightly-compaction"):
                raise AssertionError("body must not run while the lock is held")
    finally:
        lock.release("holder")


def test_hold_ready_ends_wait_without_acquiring(tmp_path):
    import time

    lock = BuildLock(str(tmp_path), "rdy")
    assert lock.acquire("holder")
    calls = []

    def ready():
        calls.append(1)
        return len(calls) >= 2  # the concurrent publisher finishes while we wait

    t0 = time.time()
    with lock.hold("waiter", 30.0, "rdy", ready=ready):
        assert lock.owner() == "holder"  # never taken from the holder
    assert time.time() - t0 < 5.0
    assert lock.owner() == "holder"
    lock.release("holder")


def test_hold_releases_on_exit_and_on_exception(tmp_path):
    import pytest

    lock = BuildLock(str(tmp_path), "rel")
    with lock.hold("run_a", 0, "rel"):
        assert lock.owner() == "run_a"
    assert not os.path.exists(lock.path)
    with pytest.raises(ValueError):
        with lock.hold("run_b", 0, "rel"):
            assert os.path.exists(lock.path)
            raise ValueError("stage failed")
    assert not os.path.exists(lock.path)


def test_stale_lock_takeover(tmp_path):
    lock = BuildLock(str(tmp_path), "tbl2", stale_after_s=0.0)
    assert lock.acquire("dead_run")
    assert lock.acquire("new_run")  # stale → takeover
    assert lock.owner() == "new_run"


def test_time_travel_read_version(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "tt")
    t.publish(_df(spark, 3), "fp_a")
    t.publish(_df(spark, 5), "fp_b")
    t.publish(_df(spark, 7), "fp_c")
    metas = t.versions()
    assert [m["seq"] for m in metas] == [1, 2, 3]
    assert t.read_version(spark, 1).count() == 3
    assert t.read_version(spark, 2).count() == 5
    assert t.read(spark).count() == 7  # current = latest
    import pytest

    with pytest.raises(FileNotFoundError):
        t.read_version(spark, 9)


def test_dead_holder_takeover(tmp_path):
    """A publisher killed mid-build (lock file present, mtime FRESH, pid
    dead) must not strand waiters until the mtime timeout: same-host
    pid-liveness takes the lock over immediately."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from darkbo_spark.storage.snapshots import BuildLock\n"
        "lock = BuildLock(%r, 'crash')\n"
        "assert lock.acquire('doomed-publisher')\n"
        "import os; os._exit(0)  # dies without release\n"
    ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))), str(tmp_path))
    subprocess.run([sys.executable, "-c", code], check=True)
    lock = BuildLock(str(tmp_path), "crash")  # default 3600 s mtime staleness
    assert os.path.exists(lock.path)  # crash left the lock behind
    assert lock.acquire("waiter")  # recovered via pid-liveness, not mtime
    assert lock.owner() == "waiter"
    lock.release("waiter")


def test_live_holder_not_stolen(tmp_path):
    """pid-liveness must not steal from a HEALTHY same-process holder."""
    lock = BuildLock(str(tmp_path), "alive")
    assert lock.acquire("holder")
    assert not lock.acquire("thief")  # holder pid (this process) is alive
    assert lock.owner() == "holder"
    lock.release("holder")


def test_stored_table_recovers_from_crashed_publisher(spark, tmp_path, monkeypatch):
    """_stored_table's wait loop recovers promptly when the lock holder is
    a dead process — no 120 s timeout path for a crashed publisher."""
    import json as _json
    import socket
    import subprocess
    import sys
    import time as _time

    from darkbo_spark.queries.common import _stored_table

    # corpus parquet the fingerprint hashes
    sf_dir = str(tmp_path / "sf")
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]})
    )
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    # point the per-user index base at the test tmpdir
    import tempfile as _tf

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path / "idx"))
    base = os.path.join(str(tmp_path / "idx"), f"darkbo_spark_indexes_u{os.getuid()}")
    os.makedirs(base, exist_ok=True)
    # a real (now-dead) pid holds the lock with a fresh mtime
    child = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    )
    dead_pid = int(child.stdout.strip())
    with open(os.path.join(base, ".crashtbl.lock"), "w") as f:
        _json.dump({"owner": "crashed", "ts": _time.time(), "pid": dead_pid,
                    "host": socket.gethostname()}, f)
    t0 = _time.time()
    table = _stored_table(sf_dir, "crashtbl", "documents", lambda: docs)
    wall = _time.time() - t0
    assert table.read(spark).count() == 2  # waiter took over and published
    assert wall < 30.0, f"crashed-publisher recovery took {wall:.1f}s"


def test_compact_unpartitioned(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "cmp1")
    df = spark.createDataFrame(pd.DataFrame({"x": range(100)})).repartition(8)
    t.publish(df, "fp_c")
    assert len(t.data_files()) > 1
    v2 = t.compact(spark, target_files=1)
    assert len(t.data_files()) == 1          # physical layout fixed
    assert t.current_fingerprint() == "fp_c"  # content identity unchanged
    assert sorted(r.x for r in t.read(spark).collect()) == list(range(100))
    metas = t.versions()
    assert [m["fingerprint"] for m in metas] == ["fp_c", "fp_c"]
    assert metas[-1]["compacted_from"] == metas[0]["version"]
    assert t.read_version(spark, 1).count() == 100  # old version time-travels
    # a fingerprint-matching publish after compaction still skips
    assert t.publish(df, "fp_c") == v2


def test_compact_partitioned_one_file_per_dir(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "cmp2")
    df = spark.createDataFrame(
        pd.DataFrame({"k": [i % 3 for i in range(90)], "x": range(90)})
    ).repartition(8)
    t.publish(df, "fp_p", partition_by=["k"])
    assert len(t.data_files()) > 3  # slivers: many files across 3 dirs
    t.compact(spark)
    files = t.data_files()
    assert len(files) == 3  # exactly one per partition dir
    assert {f.split("k=")[1][0] for f in files} == {"0", "1", "2"}
    assert t.read(spark).count() == 90


def test_maintain_compacts_expires_and_is_idempotent(spark, tmp_path):
    from darkbo_spark.storage.snapshots import maintain

    t = SnapshotTable(str(tmp_path), "mnt1")
    for i in range(4):  # 4 versions, current one fragmented into 8 files
        t.publish(_df(spark, 50 + i).repartition(8), f"fp_{i}")
    assert len(t.data_files()) == 8

    row = maintain(spark, t, retain_last=2)
    assert row["table"] == "mnt1"
    assert row["compacted"] is True
    assert row["files_before"] == 8
    assert row["files_after"] == 1
    assert row["bytes_after"] <= row["bytes_before"]
    # retention ran in the same pass: old fragmented versions reaped
    assert row["versions_expired"] > 0
    assert len(t.versions()) <= 2
    assert t.read(spark).count() == 53  # current content unchanged

    # second pass right after: layout already tight -> expire-only no-op
    row2 = maintain(spark, t, retain_last=2)
    assert row2["compacted"] is False
    assert row2["files_before"] == row2["files_after"] == 1
    assert row2["versions_expired"] == 0


def test_maintain_partitioned_threshold_is_one_file_per_dir(spark, tmp_path):
    from darkbo_spark.storage.snapshots import maintain

    t = SnapshotTable(str(tmp_path), "mnt2")
    df = spark.createDataFrame(
        pd.DataFrame({"k": [i % 3 for i in range(90)], "x": range(90)})
    ).repartition(8)
    t.publish(df, "fp_p", partition_by=["k"])
    assert len(t.data_files()) > 3

    row = maintain(spark, t)
    assert row["compacted"] is True
    assert row["files_after"] == 3  # one per partition dir
    # already at the partitioned target -> second pass skips compaction
    assert maintain(spark, t)["compacted"] is False
    assert t.read(spark).count() == 90


def test_maintain_refuses_to_race_a_live_publisher(spark, tmp_path):
    import pytest

    from darkbo_spark.storage.snapshots import maintain

    t = SnapshotTable(str(tmp_path), "mnt3")
    t.publish(_df(spark, 10).repartition(4), "fp_a")
    lock = BuildLock(str(tmp_path), "mnt3")
    assert lock.acquire("publisher-1")
    try:
        with pytest.raises(RuntimeError, match="maintenance lock busy"):
            maintain(spark, t, lock_wait_s=0.6)
    finally:
        lock.release("publisher-1")
    # publisher done -> maintenance proceeds
    assert maintain(spark, t)["compacted"] is True


def test_maintain_pipeline_sweeps_all_tables_and_publishes_metrics(spark, tmp_path):
    from darkbo_spark.kg.pipeline import maintain_pipeline
    from darkbo_spark.storage.snapshots import maintain  # noqa: F401

    base = str(tmp_path)
    for name in ("kg_triples", "kg_entities"):
        t = SnapshotTable(base, name)
        t.publish(_df(spark, 40).repartition(8), f"fp_{name}")
    rows = maintain_pipeline(spark, base, retain_last=3)
    assert {r["table"] for r in rows} == {"kg_entities", "kg_triples"}
    assert all(r["compacted"] and r["files_after"] == 1 for r in rows)

    # metrics rows were published alongside the run, and the _maintenance
    # table itself is excluded from the sweep (no self-maintenance loop)
    m = SnapshotTable(base, "_maintenance")
    got = {r.table for r in m.read(spark).collect()}
    assert got == {"kg_entities", "kg_triples"}
    rows2 = maintain_pipeline(spark, base, retain_last=3)
    assert {r["table"] for r in rows2} == {"kg_entities", "kg_triples"}
    assert not any(r["compacted"] for r in rows2)


def test_maintain_pipeline_excluded_by_pipeline_lock(spark, tmp_path):
    """ADVICE r6: a maintenance sweep must not race a concurrent pipeline
    run — maintain_pipeline takes the SAME 'pipeline'-named BuildLock the
    stage publishes hold, so while a run is live the sweep refuses."""
    from darkbo_spark.kg.pipeline import maintain_pipeline
    from darkbo_spark.storage.snapshots import BuildLock

    base = str(tmp_path)
    t = SnapshotTable(base, "kg_triples")
    t.publish(_df(spark, 20).repartition(4), "fp0")
    plock = BuildLock(base, "pipeline")
    assert plock.acquire("live-run")
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="pipeline lock busy"):
            maintain_pipeline(spark, base, lock_wait_s=0.6)
    finally:
        plock.release("live-run")
    # lock released → the sweep proceeds and compacts
    rows = maintain_pipeline(spark, base, retain_last=3)
    assert [r["table"] for r in rows] == ["kg_triples"]
    assert rows[0]["compacted"] is True
