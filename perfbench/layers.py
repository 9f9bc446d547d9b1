"""Per-layer metrics of a traced run.

Sources: the spans the wrappers in spans.py recorded, the event-log rows
folded under each span's label (eventlog.py), and the sub-step samples
the workload recorded. Only spans inside the measured loop count (set-up
and the warm iteration do not). Sums are reported per client operation
of the loop, so runs with different operation counts compare. A layer a
workload never reaches reports 0.
"""

from __future__ import annotations

import glob
import os

import eventlog
from spans import span_id_of
from stats import median, union_length

FUSION_TABLES = ("kg_facts", "kg_conflicts", "kg_entity_types", "kg_fact_history",
                 "kg_entity_profiles")

UNITS = {
    "kg.docs.python_s": "s", "kg.docs.cpu_s": "s",
    "kg.raw_triples.python_s": "s", "kg.raw_triples.cpu_s": "s", "kg.raw_triples.rows": "count",
    "kg.link_rate": "ratio", "kg.kg_triples.wall_s": "s",
    "kg.eid_map.wall_s": "s", "kg.eid_map.slot_wait_s": "s",
    "kg.fusion.wall_s": "s", "kg.fusion.slot_wait_s": "s", "kg.fusion.shuffle_bytes": "B",
    "kg.kg_facts.wall_s": "s",
    "kg.delta.extract_link_s": "s", "kg.delta.upsert_rows": "count",
    "kg.stages_run": "count", "kg.stages_skipped": "count", "kg.skip_ratio": "ratio",
    "storage.publish_count": "count", "storage.publish_s": "s", "storage.bytes_written": "B",
    "storage.read_count": "count", "storage.read_plan_s": "s",
    "storage.fingerprint_checks": "count", "storage.expire_s": "s",
    "storage.versions_expired": "count", "storage.lock_wait_s": "s",
    "storage.partition_metrics_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.python_worker_s": "s", "spark.gc_s": "s",
    "spark.slot_wait_s": "s", "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "trace.span_coverage": "ratio", "trace.unattributed_share": "ratio",
}


def eventlog_file(eventlog_dir: str) -> str:
    found = [p for p in glob.glob(os.path.join(eventlog_dir, "*")) if not p.endswith(".crc")]
    if len(found) != 1:
        raise RuntimeError(f"expected one event log under {eventlog_dir}, found {found}")
    return found[0]


def fold_by_span(eventlog_dir: str) -> dict[str, dict]:
    """Event-log rows keyed by span id (as str), plus UNATTRIBUTED."""
    def label_of(desc):
        sid = span_id_of(desc)
        return str(sid) if sid is not None else eventlog.UNATTRIBUTED

    return eventlog.fold(eventlog.read_events(eventlog_file(eventlog_dir)), label_of)


class SpanIndex:
    def __init__(self, spans: list[dict], rows: dict[str, dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.rows = rows
        self.kids: dict[int, list[dict]] = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def root(self, s: dict) -> dict:
        while s["parent"] in self.by_id:
            s = self.by_id[s["parent"]]
        return s

    def subtree(self, s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.kids.get(x["id"], []))
        return out

    def col(self, spans: list[dict], column: str) -> float:
        """Event-log column summed over the jobs of `spans` and their
        descendants (each span counted once)."""
        seen = {x["id"] for s in spans for x in self.subtree(s)}
        return sum(self.rows.get(str(i), {}).get(column, 0) for i in seen)


def _wall(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def per_layer(wl, tracer, rows: dict[str, dict], loop: dict) -> dict[str, float]:
    """Every metric in UNITS, from the spans, the event-log rows keyed by
    span id (fold_by_span) and the workload's samples."""
    idx = SpanIndex(tracer.spans, rows)
    loop_spans = [s for s in tracer.spans
                  if idx.root(s)["name"].startswith("op:") and not s["name"].startswith("op:")]
    ops = [s for s in tracer.spans if s["name"].startswith("op:")]
    n_ops = max(len(ops), 1)

    def named(name, **attrs):
        return [s for s in loop_spans if s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def publishes(table):
        return named("storage.publish", table=table)

    def per_op(x):
        return x / n_ops

    m: dict[str, float] = {}
    for table in ("docs", "raw_triples"):
        m[f"kg.{table}.python_s"] = per_op(idx.col(publishes(table), "python_worker_s"))
        m[f"kg.{table}.cpu_s"] = per_op(idx.col(publishes(table), "executor_cpu_s"))
    runs = named("kg.run_pipeline")
    m["kg.raw_triples.rows"] = per_op(sum(
        s["attrs"].get("rows", {}).get("raw_triples", 0) for s in runs))
    m["kg.link_rate"] = median(wl.samples["link_rate"]) if wl.samples.get("link_rate") else 0.0
    m["kg.kg_triples.wall_s"] = per_op(_wall(publishes("kg_triples")))
    eid = named("kg.canonicalize") + publishes("eid_map")
    m["kg.eid_map.wall_s"] = per_op(_wall(eid))
    m["kg.eid_map.slot_wait_s"] = per_op(idx.col(eid, "slot_wait_s"))

    fusion = [s for t in FUSION_TABLES for s in publishes(t)]
    fusion_wall = 0.0
    for run in runs:
        inside = [s for s in fusion if run["start"] <= s["start"] <= run["end"]]
        if inside:
            fusion_wall += max(s["end"] for s in inside) - min(s["start"] for s in inside)
    m["kg.fusion.wall_s"] = per_op(fusion_wall)
    m["kg.fusion.slot_wait_s"] = per_op(idx.col(fusion, "slot_wait_s"))
    m["kg.fusion.shuffle_bytes"] = per_op(idx.col(fusion, "shuffle_read_bytes")
                                          + idx.col(fusion, "shuffle_write_bytes"))
    m["kg.kg_facts.wall_s"] = per_op(_wall(publishes("kg_facts")))

    m["kg.delta.extract_link_s"] = per_op(
        _wall(named("kg.delta.extract_and_link")) + _wall(publishes("triples_live")))
    m["kg.delta.upsert_rows"] = (median(wl.samples["upsert_rows"])
                                 if wl.samples.get("upsert_rows") else 0.0)
    n_run = sum(len(s["attrs"].get("stages_run", [])) for s in runs)
    n_skip = sum(len(s["attrs"].get("stages_skipped", [])) for s in runs)
    m["kg.stages_run"] = per_op(n_run)
    m["kg.stages_skipped"] = per_op(n_skip)
    m["kg.skip_ratio"] = n_skip / (n_run + n_skip) if n_run + n_skip else 0.0

    pubs = named("storage.publish")
    m["storage.publish_count"] = per_op(sum(1 for s in pubs if s["attrs"].get("bytes_written")))
    m["storage.publish_s"] = per_op(_wall(pubs))
    m["storage.bytes_written"] = per_op(sum(s["attrs"].get("bytes_written", 0) for s in pubs))
    reads = named("storage.read")
    m["storage.read_count"] = per_op(len(reads))
    m["storage.read_plan_s"] = per_op(_wall(reads))
    m["storage.fingerprint_checks"] = per_op(len(named("storage.fingerprint_check")))
    expires = named("storage.expire")
    m["storage.expire_s"] = per_op(_wall(expires))
    m["storage.versions_expired"] = per_op(
        sum(s["attrs"].get("versions_expired", 0) for s in expires))
    m["storage.lock_wait_s"] = per_op(_wall(named("storage.lock_acquire")))
    m["storage.partition_metrics_s"] = per_op(_wall(named("storage.partition_metrics")))

    for name, column in (("jobs", "jobs"), ("tasks", "tasks"),
                         ("executor_run_s", "executor_run_s"),
                         ("executor_cpu_s", "executor_cpu_s"),
                         ("python_worker_s", "python_worker_s"), ("gc_s", "gc_s"),
                         ("slot_wait_s", "slot_wait_s"), ("spill_bytes", "spill_bytes")):
        m[f"spark.{name}"] = per_op(idx.col(ops, column))
    m["spark.shuffle_bytes"] = per_op(idx.col(ops, "shuffle_read_bytes")
                                      + idx.col(ops, "shuffle_write_bytes"))

    top = [x for x in tracer.spans if x["parent"] is None
           and (x["name"].startswith("op:") or x["name"] == "check")]
    m["trace.span_coverage"] = union_length([(x["start"], x["end"]) for x in top]) / loop["loop_s"]
    m["trace.unattributed_share"] = eventlog.unattributed_share(rows)
    if set(m) != set(UNITS):
        raise RuntimeError(f"per-layer metrics out of step with UNITS: {set(m) ^ set(UNITS)}")
    return m
