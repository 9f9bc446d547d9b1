"""Outside-in spans for the traced run.

`install` wraps the public functions of the engine's layers from here,
without editing the engine. Each wrapper opens a span (name, start, end,
parent, thread) and, for its duration, sets `spark.job.description` in
the calling thread to a label naming the span, so every Spark job the call
submits, from whichever thread, can be attributed to exactly one span
when the event log is folded. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from stats import self_times

LABEL_PREFIX = "pb"


def span_id_of(description: str | None) -> int | None:
    """Span id encoded in a job description, or None for a foreign one."""
    if not description or not description.startswith(LABEL_PREFIX):
        return None
    head = description[len(LABEL_PREFIX):].split("|", 1)[0]
    return int(head) if head.isdigit() else None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._tls = threading.local()
        # spans opened on a thread with no open span of its own (the
        # engine's worker threads) take the driving thread's innermost span
        # as parent
        self._main_ident = threading.get_ident()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main_ident:
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        outer = stack or self._main_stack
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": outer[-1]["id"] if outer else None,
            "thread": threading.current_thread().name,
            "attrs": attrs,
        }
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{LABEL_PREFIX}{rec['id']}|{name}")
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str, eventlog_rows: dict) -> None:
        """Write every span with its self time and the event-log columns
        folded under its label (eventlog rows keyed by span id)."""
        selfs = self_times(self.spans)
        out = [dict(s, self_s=selfs[s["id"]], eventlog=eventlog_rows.get(str(s["id"])))
               for s in sorted(self.spans, key=lambda s: s["start"])]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f, indent=0, default=str)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except FileNotFoundError:
                continue
    return total


class Patches:
    """Wrappers installed over module and class attributes; `remove`
    puts every original back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def replace(self, owner, attr: str, make) -> None:
        """Set `owner.attr` to `make(original)`."""
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap(self, owner, attr: str, name: str, attrs=None, after=None) -> None:
        """Run `owner.attr` inside a span named `name`, with span attributes
        from `attrs(*args)`; `after(span, args, result)` may add more."""
        tracer = self.tracer

        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name, **(attrs(*args, **kwargs) if attrs else {})) as rec:
                    out = orig(*args, **kwargs)
                if after:
                    after(rec, args, out)
                return out
            return wrapper

        self.replace(owner, attr, make)

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def install(tracer: Tracer) -> Patches:
    """Wrap the layers' public functions. Functions a module imported by
    name are patched in that module's namespace as well."""
    snap = importlib.import_module("darkbo_spark.storage.snapshots")
    pipe = importlib.import_module("darkbo_spark.kg.pipeline")
    incr = importlib.import_module("darkbo_spark.kg.incremental")
    p = Patches(tracer)

    def table(self, *args, **kwargs):
        return {"table": self.name}

    def publish(orig):
        # a publish whose fingerprint is current writes nothing: 0 bytes
        def wrapper(self, *args, **kwargs):
            before = self.current()
            with tracer.span("storage.publish", table=self.name) as rec:
                version = orig(self, *args, **kwargs)
            wrote = not before or before["version"] != version
            rec["attrs"]["bytes_written"] = (
                _dir_bytes(os.path.join(self.dir, version)) if wrote else 0)
            return version
        return wrapper

    def expired(rec, args, out):
        rec["attrs"]["versions_expired"] = len(out)

    p.replace(snap.SnapshotTable, "publish", publish)
    p.wrap(snap.SnapshotTable, "read", "storage.read", table)
    p.wrap(snap.SnapshotTable, "expire", "storage.expire", table, expired)
    p.wrap(snap.SnapshotTable, "current_fingerprint", "storage.fingerprint_check", table)
    p.wrap(snap.BuildLock, "acquire", "storage.lock_acquire")
    p.wrap(snap.BuildLock, "heartbeat", "storage.lock_heartbeat")
    for mod in (snap, pipe):
        p.wrap(mod, "partition_metrics", "storage.partition_metrics")
    p.wrap(snap, "maintain", "storage.maintain")

    def stages(rec, args, out):
        rec["attrs"]["stages_run"] = list(out.stages_run)
        rec["attrs"]["stages_skipped"] = list(out.stages_skipped)
        rec["attrs"]["rows"] = dict(out.rows)

    p.wrap(pipe, "run_pipeline", "kg.run_pipeline", after=stages)
    p.wrap(pipe, "canonicalize_entities", "kg.canonicalize")
    p.wrap(pipe, "build_entity_table_driver", "kg.entity_table")
    p.wrap(incr, "extract_and_link", "kg.delta.extract_and_link")
    p.wrap(incr, "upsert_triples_by_url", "kg.delta.upsert")
    return p
