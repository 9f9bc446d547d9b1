"""Self-tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import threading

import pytest

import eventlog
import spans
from stats import percentile, self_times, tail, union_length

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                       "eventlog_small.jsonl")


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99.9) == 7.0


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail([float(x) for x in range(1, 41)]) == (75.0, 30.0)
    assert tail([float(x) for x in range(1, 1001)]) == (99.0, 990.0)
    assert tail([float(x) for x in range(1, 201)]) == (95.0, 190.0)
    assert tail([float(x) for x in range(1, 40)]) is None


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    rows = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},   # overlaps 2 (another thread)
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    got = self_times(rows)
    assert got[1] == pytest.approx(10 - 5 - 1)
    assert got[2] == pytest.approx(3 - 1)
    assert got[3] == pytest.approx(3)
    assert got[4] == pytest.approx(1)
    assert got[5] == pytest.approx(3)


def test_fold_attributes_jobs_by_label():
    rows = eventlog.fold(eventlog.read_events(FIXTURE))
    pub = rows["pb1|storage.publish"]
    assert pub["jobs"] == 1 and pub["tasks"] == 2
    assert pub["executor_run_s"] == pytest.approx(0.76)
    assert pub["executor_cpu_s"] == pytest.approx(0.4)
    assert pub["gc_s"] == pytest.approx(0.005)
    assert pub["python_worker_s"] == pytest.approx(0.52)   # per-task Update, not Value
    assert pub["shuffle_write_bytes"] == 1000
    assert pub["slot_wait_s"] == pytest.approx(0.1)
    assert pub["task_skew"] == pytest.approx(600 / 400)
    # job 1 lists stage 0 too, but stage 0 ran under job 0: only stage 1's
    # task belongs to the unlabelled job
    un = rows[eventlog.UNATTRIBUTED]
    assert un["jobs"] == 1 and un["tasks"] == 1
    assert un["shuffle_read_bytes"] == 1024 and un["spill_bytes"] == 7
    assert un["slot_wait_s"] == pytest.approx(0.05)
    # a job with no tasks counts, with zero slot wait
    other = rows["a job labelled by someone else"]
    assert other["jobs"] == 1 and other["tasks"] == 0 and other["slot_wait_s"] == 0
    assert eventlog.unattributed_share(rows) == pytest.approx(0.09 / 0.85)


def test_fold_by_span_id():
    def label_of(desc):
        sid = spans.span_id_of(desc)
        return str(sid) if sid is not None else eventlog.UNATTRIBUTED

    rows = eventlog.fold(eventlog.read_events(FIXTURE), label_of)
    assert set(rows) == {"1", eventlog.UNATTRIBUTED}
    assert rows[eventlog.UNATTRIBUTED]["jobs"] == 2


class FakeContext:
    """Per-thread local properties, as pinned-thread PySpark keeps them."""

    def __init__(self):
        self._tls = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._tls, "desc", None)

    def setJobDescription(self, value):
        self._tls.desc = value


def test_tracer_labels_parents_and_restores():
    sc = FakeContext()
    tracer = spans.Tracer(sc)
    seen = {}
    with tracer.span("op:x") as op:
        assert spans.span_id_of(sc.getLocalProperty("")) == op["id"]
        with tracer.span("inner") as inner:
            def worker():
                with tracer.span("in.thread") as t:
                    seen["parent"] = t["parent"]
                    seen["label"] = sc.getLocalProperty("")
                seen["after"] = sc.getLocalProperty("")

            th = threading.Thread(target=worker)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
        assert spans.span_id_of(sc.getLocalProperty("")) == op["id"]
    assert sc.getLocalProperty("") is None
    # a span on a thread with no open span hangs under the driving
    # thread's innermost span, and its label is set in its own thread
    assert seen["parent"] == inner["id"]
    assert seen["label"].endswith("|in.thread") and seen["after"] is None
    assert inner["parent"] == op["id"] and op["parent"] is None
    assert len(tracer.spans) == 3


def test_patches_wrap_and_restore():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tracer = spans.Tracer(FakeContext())
    original = Owner.f
    p = spans.Patches(tracer)
    p.wrap(Owner, "f", "layer.f", attrs=lambda x: {"x": x},
           after=lambda rec, args, out: rec["attrs"].update(out=out))
    assert Owner.f(2) == 3
    assert Owner.f is not original
    (rec,) = tracer.spans
    assert rec["name"] == "layer.f" and rec["attrs"] == {"x": 2, "out": 3}
    p.remove()
    assert Owner.f is original
