"""Snapshot-versioned parquet tables: atomic publish, fingerprint skip,
retention — the storage contract of the pipeline.

Semantics preserved from the reference's index versioning (behavior:
api/index_versioning.py:68-212): immutable version directories, a current
pointer swapped by atomic rename, rebuild skipped when the input
fingerprint matches the active version, keep-last-N retention.

In production this layer IS Iceberg (atomic snapshot commit,
`expire_snapshots(retain_last => N)`, fingerprint in snapshot summary
properties); no Iceberg runtime jar ships in this sandbox, so the same
semantics are provided over plain parquet + a JSON pointer. The pipeline
code only touches this interface, so swapping in Iceberg is a one-module
change.

Layout:
    {base}/{name}/v{seq:05d}_{fp8}/        parquet files (written by Spark)
    {base}/{name}/v{seq:05d}_{fp8}/meta.json   (written LAST → commit marker)
    {base}/{name}/current.json             atomic pointer {version, fingerprint}
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotTable:
    def __init__(self, base_dir: str, name: str):
        self.dir = os.path.join(base_dir, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    # -- pointer ------------------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.dir, "current.json")

    def current(self) -> Optional[dict]:
        p = self._pointer_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def current_fingerprint(self) -> Optional[str]:
        cur = self.current()
        return cur["fingerprint"] if cur else None

    def _swap_pointer(self, payload: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._pointer_path())  # atomic on POSIX

    # -- publish ------------------------------------------------------------
    def publish(
        self,
        df: DataFrame,
        fingerprint: str,
        partition_by: Optional[list[str]] = None,
        extra_meta: Optional[dict] = None,
    ) -> str:
        """Write df as a new immutable version and atomically point `current`
        at it. If `current` already carries this fingerprint, do nothing
        (incremental skip). Returns the version id."""
        cur = self.current()
        if cur and cur.get("fingerprint") == fingerprint:
            return cur["version"]
        return self._write_version(df, fingerprint, partition_by, extra_meta)

    def _write_version(
        self,
        df: DataFrame,
        fingerprint: str,
        partition_by: Optional[list[str]] = None,
        extra_meta: Optional[dict] = None,
    ) -> str:
        cur = self.current()
        # next seq = 1 + max over ALL committed versions, not just the
        # pointer: a publish that crashed between the meta.json commit
        # marker and the pointer swap leaves a committed-looking orphan
        # whose seq would otherwise be reused, making time travel ambiguous
        committed_seqs = [m["seq"] for m in self.versions()]
        seq = max(committed_seqs + [cur["seq"] if cur else 0]) + 1
        version = f"v{seq:05d}_{fingerprint[:8]}"
        vdir = os.path.join(self.dir, version)
        data_dir = os.path.join(vdir, "data")
        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        meta = {
            "version": version,
            "seq": seq,
            "fingerprint": fingerprint,
            "wall_s": round(time.time() - t0, 3),
            "partition_by": list(partition_by or []),
            **(extra_meta or {}),
        }
        # meta.json written last = commit marker (crash before this → version
        # is invisible garbage, cleaned by expire). Temp + atomic rename:
        # versions()/read_version read its CONTENT, so a concurrent reader
        # must never see a partially written marker
        fd, tmp = tempfile.mkstemp(dir=vdir, suffix=".meta.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(vdir, "meta.json"))
        self._swap_pointer({"version": version, "seq": seq, "fingerprint": fingerprint})
        return version

    # -- maintenance --------------------------------------------------------
    def compact(self, spark: SparkSession, target_files: int = 1) -> str:
        """Rewrite the CURRENT version's data into well-sized files as a
        NEW version with the SAME fingerprint (the content identity is
        unchanged — only physical layout). Partitioned tables repartition
        on their partition columns (one file per partition dir — the
        file-count hygiene partitioned writes need); unpartitioned tables
        coalesce to `target_files`. The fragmented version stays
        time-travelable until retention expires it; readers atomically
        switch at the pointer swap (Iceberg analog: rewrite_data_files).
        Callers coordinating with concurrent publishers should hold the
        table's BuildLock, same as any publish."""
        cur = self.current()
        if cur is None:
            raise FileNotFoundError(f"no current version for table {self.name}")
        meta = next(m for m in self.versions() if m["version"] == cur["version"])
        pb = meta.get("partition_by") or None
        df = self.read(spark)
        df = df.repartition(*pb) if pb else df.repartition(target_files)
        # cut lineage: the new version's write must not depend on files a
        # concurrent expire() of old versions could remove mid-job
        df = df.localCheckpoint(eager=True)
        return self._write_version(
            df, cur["fingerprint"], pb, {"compacted_from": cur["version"]}
        )

    def data_files(self) -> list[str]:
        """Parquet data files of the current version (compaction metric)."""
        base = self.data_path()
        out = []
        for root, _dirs, files in os.walk(base):
            out.extend(
                os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith(".")
            )
        return sorted(out)

    # -- read ---------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        cur = self.current()
        if not cur:
            raise FileNotFoundError(f"no current version for table {self.name}")
        return spark.read.parquet(os.path.join(self.dir, cur["version"], "data"))

    def data_path(self) -> str:
        cur = self.current()
        assert cur, f"no current version for {self.name}"
        return os.path.join(self.dir, cur["version"], "data")

    # -- time travel ----------------------------------------------------------
    def versions(self) -> list[dict]:
        """All COMMITTED versions' metadata, oldest first (Iceberg's
        snapshot log over plain parquet). Tolerates a concurrent expire()
        removing a version between listing and reading its marker."""
        out = []
        for d in sorted(os.listdir(self.dir)):
            if not d.startswith("v"):
                continue
            try:
                with open(os.path.join(self.dir, d, "meta.json")) as f:
                    out.append(json.load(f))
            except FileNotFoundError:
                continue  # uncommitted, or expired mid-scan
        return out

    def read_version(self, spark: SparkSession, seq: int) -> DataFrame:
        """Time travel: read the committed version with sequence `seq`
        (`VERSION AS OF` over the snapshot layout). Retention permitting —
        expire() keeps the last N."""
        for meta in self.versions():
            if meta["seq"] == seq:
                return spark.read.parquet(
                    os.path.join(self.dir, meta["version"], "data")
                )
        raise FileNotFoundError(
            f"no committed version seq={seq} for table {self.name} (expired?)"
        )

    # -- retention ----------------------------------------------------------
    def expire(self, retain_last: int = 3, uncommitted_stale_s: float = 3600.0) -> list[str]:
        """Delete all committed versions except the newest `retain_last`,
        never deleting the current pointer's target. Uncommitted (no
        meta.json) version dirs are removed only once older than
        `uncommitted_stale_s` — a fresher one may be a concurrent publisher's
        in-flight write, which must not be rmtree'd mid-write. Mirrors
        keep-last-N retention (reference behavior
        api/index_versioning.py:195-212) / Iceberg expire_snapshots."""
        cur = self.current()
        keep = {cur["version"]} if cur else set()
        versions = sorted(
            d for d in os.listdir(self.dir)
            if d.startswith("v") and os.path.isdir(os.path.join(self.dir, d))
        )
        committed = [v for v in versions if os.path.exists(os.path.join(self.dir, v, "meta.json"))]
        now = time.time()

        def newest_mtime(vdir: str) -> float:
            # the dir's own mtime freezes at creation; a LIVE write keeps
            # bumping file mtimes underneath — staleness must use the newest
            best = os.path.getmtime(vdir)
            for root, _dirs, files in os.walk(vdir):
                for fn in files:
                    try:
                        best = max(best, os.path.getmtime(os.path.join(root, fn)))
                    except FileNotFoundError:
                        continue  # writer moved a temp file mid-walk
            return best

        stale_uncommitted = [
            v
            for v in versions
            if v not in committed
            and now - newest_mtime(os.path.join(self.dir, v)) > uncommitted_stale_s
        ]
        doomed = [v for v in committed[:-retain_last] if v not in keep] + stale_uncommitted
        for v in doomed:
            shutil.rmtree(os.path.join(self.dir, v), ignore_errors=True)
        return doomed


class BuildLock:
    """I2 — single-writer build lock: atomic O_EXCL lock file carrying the
    owner id, with stale-lock takeover (reference behavior:
    api/index_versioning.py:91-116). Iceberg's optimistic commit retry makes
    this unnecessary in production; kept for parity and for local runs.

    Crashed-holder recovery: the lock file records (pid, host); a contender
    on the SAME host whose holder pid is dead takes the lock over
    immediately via the same atomic-rename path as mtime staleness — a
    publisher SIGKILLed mid-write never strands waiters until the mtime
    timeout. Cross-host (pid unverifiable) falls back to mtime staleness."""

    def __init__(self, base_dir: str, name: str, stale_after_s: float = 3600.0):
        self.path = os.path.join(base_dir, f".{name}.lock")
        self.stale_after_s = stale_after_s

    def _holder_dead(self) -> bool:
        """True iff the lock names a same-host pid that no longer exists."""
        import socket

        try:
            with open(self.path) as f:
                meta = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return False  # vanished or mid-write — not provably dead
        pid, host = meta.get("pid"), meta.get("host")
        if not isinstance(pid, int) or host != socket.gethostname():
            return False
        try:
            os.kill(pid, 0)
            return False  # alive
        except ProcessLookupError:
            return True
        except PermissionError:
            return False  # alive, other uid

    def acquire(self, owner: str) -> bool:
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                stale = time.time() - os.path.getmtime(self.path) > self.stale_after_s
            except FileNotFoundError:
                return self.acquire(owner)  # holder released between checks
            if stale or self._holder_dead():
                # ATOMIC takeover: rename the stale lock aside — exactly one
                # contender wins the rename; remove-then-recreate would let a
                # second contender delete the winner's fresh lock and both
                # acquire (the concurrent-publish race the lock exists for)
                grave = f"{self.path}.stale.{owner}.{os.getpid()}"
                try:
                    os.rename(self.path, grave)
                except FileNotFoundError:
                    return self.acquire(owner)  # another contender won
                os.remove(grave)
                return self.acquire(owner)
            return False
        import socket

        with os.fdopen(fd, "w") as f:
            json.dump(
                {"owner": owner, "ts": time.time(), "pid": os.getpid(),
                 "host": socket.gethostname()},
                f,
            )
        return True

    def heartbeat(self, owner: str) -> None:
        """Refresh the lock mtime so a long-running build isn't mistaken for
        stale by a contender (call between stages)."""
        if self.owner() == owner:
            try:
                os.utime(self.path, None)
            except FileNotFoundError:
                pass  # stolen between check and touch — holder finds out at release

    def owner(self) -> Optional[str]:
        try:
            with open(self.path) as f:
                return json.load(f).get("owner")
        except (FileNotFoundError, json.JSONDecodeError):
            # vanished (released / stolen-stale) or mid-write between a
            # contender's O_EXCL create and its json.dump
            return None

    def release(self, owner: str) -> None:
        if self.owner() == owner:
            try:
                os.remove(self.path)
            except FileNotFoundError:
                pass  # stolen between check and remove — nothing to release

    @contextmanager
    def hold(
        self,
        owner: str,
        wait_s: float,
        what: str,
        ready: Optional[Callable[[], bool]] = None,
    ) -> Iterator[None]:
        """Hold the lock for the `with` body, polling every 0.25 s for up to
        `wait_s` (0 = fail fast). When `ready()` turns true while waiting —
        a concurrent publisher finished our work — the body runs WITHOUT
        the lock, so it must re-check `ready()` before publishing. Raises
        RuntimeError naming `what` when the wait runs out."""
        deadline = time.time() + wait_s
        while not self.acquire(owner):
            if ready is not None and ready():
                yield
                return
            if time.time() >= deadline:
                raise RuntimeError(
                    f"{what} lock busy ({self.path}, held by {self.owner()})"
                )
            time.sleep(0.25)
        try:
            yield
        finally:
            self.release(owner)


def partition_metrics(spark: SparkSession, data_path: str) -> list[dict]:
    """Per-output-file row counts for a published version — the lineage/
    metrics evidence the north rule requires. Reads ONLY parquet footers via
    pyarrow on the driver (no cluster job): milliseconds per stage instead
    of a full Spark round trip. On an object store this would be the
    manifest row counts Iceberg already tracks per data file."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(data_path, "**", "*.parquet"), recursive=True)):
        out.append(
            {
                "partition_file": os.path.relpath(f, data_path),
                "rows": pq.ParquetFile(f).metadata.num_rows,
            }
        )
    return out


def maintain(
    spark: SparkSession,
    table: SnapshotTable,
    retain_last: int = 3,
    target_files: int = 1,
    lock_wait_s: float = 120.0,
) -> dict:
    """Compact-then-expire maintenance for ONE table — Iceberg's
    rewrite_data_files + expire_snapshots pairing run as a single pass
    under the table's BuildLock (a maintenance rewrite must never race a
    publisher into the same v{seq}, and expire must never reap a
    publisher's in-flight dir it could then re-point to).

    Compaction is SKIPPED when the current layout is already tight —
    file count <= partition-dir count for partitioned tables (one file
    per partition dir is the compact() target layout), <= `target_files`
    otherwise — so the pass is idempotent and cheap to run on a
    schedule; the second invocation in a row only expires. Returns a
    metrics row (table, files/bytes before and after, compacted flag,
    versions_expired, wall_s) — the files-before/after evidence a
    maintenance job should publish with its run.

    Size `target_files` for read parallelism, not minimal count: one
    small file is one input split (a file only splits past
    spark.sql.files.maxPartitionBytes), so compacting an unpartitioned
    table to a single sub-128MB file trades open overhead for a serial
    scan. Pass ~cores locally; at cluster scale pick total_bytes /
    ~512MB (Iceberg's size-targeted rewrite).
    """
    t0 = time.time()
    files_before = table.data_files()
    bytes_before = sum(os.path.getsize(f) for f in files_before)
    dirs_before = {os.path.dirname(f) for f in files_before}
    cur = table.current()
    meta = next(
        (m for m in table.versions() if cur and m["version"] == cur["version"]), {}
    )
    partitioned = bool(meta.get("partition_by"))
    threshold = len(dirs_before) if partitioned else target_files
    needs_compact = len(files_before) > threshold

    lock = BuildLock(os.path.dirname(table.dir), table.name)
    with lock.hold(f"maint-{os.getpid()}-{time.time()}", lock_wait_s, "maintenance"):
        if needs_compact:
            table.compact(spark, target_files=target_files)
        expired = table.expire(retain_last=retain_last)

    files_after = table.data_files()
    return {
        "table": table.name,
        "files_before": len(files_before),
        "files_after": len(files_after),
        "bytes_before": bytes_before,
        "bytes_after": sum(os.path.getsize(f) for f in files_after),
        "compacted": needs_compact,
        "versions_expired": len(expired),
        "wall_s": round(time.time() - t0, 3),
    }
