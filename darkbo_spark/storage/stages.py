"""One runner for every fingerprinted, staged pipeline (kg/pipeline.py,
training/pipeline.py) — the scaled-out restatement of the reference's
checksum-gated rebuild (behavior: api/index_versioning.py:68-156).

A run is one `with StageRunner(...)` block:

1. entering takes the pipeline's BuildLock once for the whole run
   (single writer: concurrent publishers would race on the same v{seq}
   dir, and expire() could GC an in-flight version);
2. `stage(name, parent_fp, params, build)` fingerprints the stage as
   sha256(parent_fp : name : params : code_version) and skips it when
   the table's current version already carries that fingerprint;
   otherwise it heartbeats the lock, publishes `build()`, and records
   per-file row counts from the parquet footers (no Spark job);
3. a clean exit publishes the run's `_metrics` rows under a run-unique
   fingerprint and expires every table the run touched, `_metrics`
   included, to keep-last-3.

`stage()` is safe to call from several threads of one run (the KG
pipeline's dictionary thread and fusion pool): it only appends to lists
and sets dict keys (GIL-atomic), and concurrent stages publish disjoint
tables.
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import ExitStack
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from darkbo_spark.storage import make_table, snapshots


def fingerprint(*parts: str) -> str:
    return hashlib.sha256(":".join(parts).encode()).hexdigest()


@dataclass
class PipelineResult:
    tables: dict = field(default_factory=dict)  # stage name -> VersionedTable
    stages_run: list = field(default_factory=list)
    stages_skipped: list = field(default_factory=list)
    rows: dict = field(default_factory=dict)  # stage name -> published rows
    # stage name -> thread wall seconds of build + publish; stages run from
    # concurrent threads overlap, so their walls include task-slot wait and
    # do not sum to the run's wall
    timings: dict = field(default_factory=dict)


class StageRunner:
    retain_last = 3

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        lock_name: str,
        code_version: str,
        lock_wait_s: float = 0.0,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.code_version = code_version
        self.result = PipelineResult()
        self._lock = snapshots.BuildLock(out_dir, lock_name)
        self._owner = f"{lock_name}-{os.getpid()}-{time.time()}"
        self._held = self._lock.hold(self._owner, lock_wait_s, lock_name)
        self._metrics: list[dict] = []
        self._exit = ExitStack()

    def __enter__(self) -> "StageRunner":
        os.makedirs(self.out_dir, exist_ok=True)  # the lock file needs the dir
        self._exit.enter_context(self._held)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        with self._exit:  # releases the lock even if the close-out fails
            if exc_type is None:
                self._close()

    def stage(
        self,
        name: str,
        parent_fp: str,
        params: str,
        build: Callable[[], DataFrame],
    ):
        """Publish `build()` as table `name` unless its fingerprint is
        current. Returns (table, fingerprint) for downstream stages."""
        res = self.result
        fp = fingerprint(parent_fp, name, params, self.code_version)
        tbl = make_table(self.out_dir, name)
        res.tables[name] = tbl
        if tbl.current_fingerprint() == fp:
            res.stages_skipped.append(name)
            return tbl, fp
        self._lock.heartbeat(self._owner)  # long builds must not look stale
        t0 = time.time()
        tbl.publish(build(), fp)
        wall = round(time.time() - t0, 3)
        # through the module attribute, so a tracer patching
        # snapshots.partition_metrics sees every call
        files = snapshots.partition_metrics(self.spark, tbl.data_path())
        self._metrics.extend(
            {"stage": name, "run_fingerprint": fp, "partition_file": f["partition_file"],
             "rows": f["rows"], "wall_s": wall}
            for f in files
        )
        res.stages_run.append(name)
        res.timings[name] = wall
        res.rows[name] = sum(f["rows"] for f in files)
        return tbl, fp

    def _close(self) -> None:
        touched = list(self.result.tables.values())
        if self._metrics:
            import pandas as pd

            metrics = make_table(self.out_dir, "_metrics")
            # pandas → Arrow path (a plain list takes the slow RDD-pickle path)
            mdf = self.spark.createDataFrame(pd.DataFrame(self._metrics)).coalesce(1)
            metrics.publish(mdf, fingerprint("metrics", self._owner))
            touched.append(metrics)
        for t in touched:
            t.expire(retain_last=self.retain_last)
