"""The benchmark workloads.

Each workload is a single closed-loop client. `generate` writes its
inputs from the seed; `prepare` builds any prebuilt state and runs the
untimed warm iterations; `op` is one timed client operation; `verify`
checks that operation's outputs and returns the failures it found
(untimed). The engine is reached only through its public entry points,
looked up on their modules at call time so that the traced run's
wrappers see every call.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from contextlib import nullcontext

import pandas as pd
import pyarrow.parquet as pq

import inputs
from stats import median, tail

KG_CUTOFFS = ("2024-01-04", "2024-01-06")
KG_STAGES = {"docs", "raw_triples", "eid_map", "kg_entities", "kg_triples", "kg_facts",
             "kg_conflicts", "kg_entity_types", "kg_fact_history", "kg_entity_profiles"}


class Ctx:
    """What a workload needs from the runner: the session, a scratch
    directory, the seed, the task-slot count and the tracer (or None)."""

    def __init__(self, spark, work: str, seed: int, threads: int, tracer=None):
        self.spark, self.work, self.seed, self.threads = spark, work, seed, threads
        self.tracer = tracer

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def files_fingerprint(path: str) -> str:
    """sha256 over a directory's files in name order: the explicit input
    fingerprint the engine is handed for an external pages table."""
    h = hashlib.sha256()
    for fn in sorted(os.listdir(path)):
        h.update(fn.encode())
        with open(os.path.join(path, fn), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def published(out_dir: str, name: str, columns=None, urls=None) -> pd.DataFrame:
    """The current version of a published table, read on the driver with
    pyarrow (checks submit no Spark jobs), optionally only rows whose
    `url` is in `urls`."""
    from darkbo_spark.storage.snapshots import SnapshotTable

    filters = [("url", "in", sorted(urls))] if urls is not None else None
    path = SnapshotTable(out_dir, name).data_path()
    return pq.read_table(path, columns=columns, filters=filters).to_pandas()


def frame_hash(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-independent content hash) of a frame."""
    cols = sorted(df.columns)
    return len(df), int(pd.util.hash_pandas_object(df[cols], index=False).sum())


def _vocabulary() -> inputs.Vocabulary:
    from darkbo_spark.kg.pages import build_entity_dictionary

    return inputs.Vocabulary(build_entity_dictionary())


def _pipeline():
    import darkbo_spark.kg.pipeline as pipeline

    return pipeline


class Workload:
    name = ""

    def __init__(self):
        # sample name -> values recorded in the measured loop (sub-step
        # seconds, per-operation counts and ratios)
        self.samples: dict[str, list[float]] = {}
        self.units = 0
        self.setup_parts: dict[str, float] = {}

    def config(self) -> str:
        """The workload's sizes, recorded next to its results."""
        return f"{self.name}({', '.join(f'{k}={v}' for k, v in sorted(self.params.items()))})"

    def record(self, key: str, seconds: float) -> None:
        self.samples.setdefault(key, []).append(seconds)

    def timed_setup(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[key] = self.setup_parts.get(key, 0.0) + time.perf_counter() - t0
        return out

    def generate(self, ctx: Ctx) -> None:
        """Write the seeded inputs; must be idempotent (it is repeated)."""

    def prepare(self, ctx: Ctx) -> None:
        """Prebuilt state and the untimed warm iterations."""

    def op(self, ctx: Ctx, i: int):
        raise NotImplementedError

    def verify(self, ctx: Ctx, result) -> list[str]:
        return []

    def report(self) -> dict:
        """Workload-specific figures, by name -> (value, unit)."""
        return {}


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------


class KgBuild(Workload):
    """Cold E -> S+T -> L -> C/M build plus the five fusion tables into a
    fresh output directory, over a seeded parquet pages table."""

    name = "kg_build"

    def __init__(self, n_pages: int, warm_builds: int, n_sampled: int = 24):
        super().__init__()
        self.n_pages, self.warm_builds, self.n_sampled = n_pages, warm_builds, n_sampled
        self.params = {"n_pages": n_pages, "warm_builds": warm_builds, "n_sampled": n_sampled}

    def generate(self, ctx):
        voc = _vocabulary()
        cols = inputs.page_rows(ctx.seed, list(range(self.n_pages)), self.n_pages, voc)
        shutil.rmtree(ctx.path("pages"), ignore_errors=True)
        inputs.write_pages(ctx.path("pages"), cols, n_files=4 * ctx.threads)
        self.fp = files_fingerprint(ctx.path("pages"))
        rng = random.Random(f"sample:{ctx.seed}")
        en = [k for k, lang in enumerate(cols["lang"]) if lang == "en"]
        self.sampled = {cols["url"][k]: cols["text"][k] for k in rng.sample(en, self.n_sampled)}

    def prepare(self, ctx):
        from darkbo_spark import reference_impl as ref

        self.expect_docs = {u: ref.clean_text(t) for u, t in self.sampled.items()}
        self.expect_triples = {
            u: sorted((r["sent_idx"], r["subj"], r["pred"], r["obj"], r["triple_id"])
                      for r in ref.extract_doc_triples(u, t))
            for u, t in self.sampled.items()
        }
        self.baseline = None
        # the first builds of a fresh JVM are still compiling the engine's
        # hot paths (JIT); later ones settle
        for k in range(self.warm_builds):
            res = self.timed_setup("warm_s", lambda: self._build(ctx, f"warm{k}"))
            failures = self.verify(ctx, res)
            if failures:
                raise RuntimeError(f"kg_build warm iteration failed its checks: {failures}")

    def _build(self, ctx, tag):
        out = ctx.path(f"kg_{tag}")
        shutil.rmtree(out, ignore_errors=True)
        pages = ctx.spark.read.parquet(ctx.path("pages"))
        res = _pipeline().run_pipeline(ctx.spark, out, pages=pages, input_fingerprint=self.fp,
                                       facts_asof=KG_CUTOFFS[0])
        return out, res

    def op(self, ctx, i):
        t0 = time.perf_counter()
        out = self._build(ctx, str(i))
        self.record("build_s", time.perf_counter() - t0)
        self.units += self.n_pages
        return out

    def verify(self, ctx, result):
        out, res = result
        failures = []
        if set(res.stages_run) != KG_STAGES or res.stages_skipped:
            failures.append(f"cold build ran {sorted(res.stages_run)}, skipped {res.stages_skipped}")
        urls = set(self.sampled)
        docs = published(out, "docs", ["url", "text"], urls)
        if dict(zip(docs.url, docs.text)) != self.expect_docs:
            failures.append("docs text differs from reference clean_text on sampled pages")
        raw = published(out, "raw_triples",
                        ["url", "sent_idx", "subj", "pred", "obj", "triple_id"], urls)
        got = {u: [] for u in urls}
        for r in raw.itertuples(index=False):
            got[r.url].append((r.sent_idx, r.subj, r.pred, r.obj, r.triple_id))
        if {u: sorted(v) for u, v in got.items()} != self.expect_triples:
            failures.append("raw_triples differ from reference extract_triples on sampled pages")
        kg = published(out, "kg_triples")
        fingerprint = (dict(res.rows), frame_hash(kg))
        if self.baseline is None:
            self.baseline = fingerprint
        elif fingerprint != self.baseline:
            failures.append("stage row counts or kg_triples hash differ from the warm iteration")
        self.record("link_rate", kg.subj_eid.notna().sum() / max(len(kg), 1))
        shutil.rmtree(out, ignore_errors=True)
        return failures

    def report(self):
        b = self.samples.get("build_s", [])
        return {"docs_per_s": (self.n_pages * len(b) / sum(b), "1/s")} if b else {}


# ---------------------------------------------------------------------------
# kg_refresh
# ---------------------------------------------------------------------------


class KgRefresh(Workload):
    """Crawl-cadence cycles on a prebuilt KG: refetch delta upsert and
    publish, cutoff move, identical rerun, point lookups."""

    name = "kg_refresh"
    n_deltas = 12  # pre-generated refetch deltas, applied round robin

    def __init__(self, n_pages: int, delta_pages: int, lookups: int):
        super().__init__()
        self.n_pages, self.delta_pages, self.lookups = n_pages, delta_pages, lookups
        self.params = {"n_pages": n_pages, "delta_pages": delta_pages, "lookups": lookups}

    def generate(self, ctx):
        voc = _vocabulary()
        cols = inputs.page_rows(ctx.seed, list(range(self.n_pages)), self.n_pages, voc)
        shutil.rmtree(ctx.path("pages"), ignore_errors=True)
        inputs.write_pages(ctx.path("pages"), cols, n_files=4 * ctx.threads)
        self.fp = files_fingerprint(ctx.path("pages"))
        rng = random.Random(f"refetch:{ctx.seed}")
        for c in range(self.n_deltas):
            ids = sorted(rng.sample(range(self.n_pages), self.delta_pages))
            d = ctx.path("deltas", f"d{c:03d}")
            shutil.rmtree(d, ignore_errors=True)
            inputs.write_pages(d, inputs.page_rows(ctx.seed, ids, self.n_pages, voc, version=c + 1), 1)

    def _run(self, ctx, cutoff):
        pages = ctx.spark.read.parquet(ctx.path("pages"))
        return _pipeline().run_pipeline(ctx.spark, ctx.path("kg"), pages=pages,
                                        input_fingerprint=self.fp, facts_asof=cutoff)

    def prepare(self, ctx):
        from pyspark.sql import functions as F
        from darkbo_spark.kg.pages import entity_dictionary_df
        from darkbo_spark.storage.snapshots import SnapshotTable

        spark = ctx.spark

        def prebuild():
            shutil.rmtree(ctx.path("kg"), ignore_errors=True)
            self._run(ctx, KG_CUTOFFS[0])
            kg = ctx.path("kg")
            eid_map = SnapshotTable(kg, "eid_map").read(spark)
            # the link dictionary resolved to canonical ids, as the build uses it
            self.dictionary = entity_dictionary_df(spark).join(eid_map, "eid").select(
                "alias", F.col("canon_eid").alias("eid")).cache()
            self.dictionary.count()
            self.live = SnapshotTable(kg, "triples_live")
            cols = ["url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
                    "subj", "pred", "obj", "subj_eid", "obj_eid"]
            self.live.publish(SnapshotTable(kg, "kg_triples").read(spark).select(*cols),
                              f"live:{self.fp}:0")
            # head entities (most facts) stay present whatever is refetched
            counts = published(kg, "kg_facts", ["subj_eid"]).subj_eid.value_counts()
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:64]
            rng = random.Random(f"lookups:{ctx.seed}")
            self.entity_ids = [eid for eid, _n in top]
            self.lookup_plan = [rng.choice(self.entity_ids)
                                for _ in range(self.lookups * self.n_deltas)]

        self.timed_setup("prebuilt_s", prebuild)
        self.cycle = 0
        self.cutoff = KG_CUTOFFS[0]
        # the first cycle of a fresh JVM takes about 1.5x the next ones
        res = self.timed_setup("warm_s", lambda: self._cycle(ctx))
        failures = self.verify(ctx, res)
        if failures:
            raise RuntimeError(f"kg_refresh warm cycle failed its checks: {failures}")

    def _cycle(self, ctx):
        from pyspark.sql import functions as F
        from darkbo_spark.kg import incremental
        from darkbo_spark.storage.snapshots import SnapshotTable

        spark, c = ctx.spark, self.cycle
        self.cycle += 1
        out = {"cycle": c}

        t0 = time.perf_counter()
        with ctx.span("refresh.delta_apply"):
            delta_path = ctx.path("deltas", f"d{c % self.n_deltas:03d}")
            delta = spark.read.parquet(delta_path)
            fresh = incremental.extract_and_link(delta, self.dictionary)
            merged = incremental.upsert_triples_by_url(self.live.read(spark), fresh,
                                                       delta.select("url"))
            self.live.publish(merged, f"live:{self.fp}:{c + 1}")
            self.live.expire(retain_last=3)
        self.record("delta_apply_s", time.perf_counter() - t0)
        out["delta"] = delta
        out["delta_urls"] = pq.read_table(delta_path, columns=["url"]).column("url").to_pylist()

        self.cutoff = KG_CUTOFFS[1] if self.cutoff == KG_CUTOFFS[0] else KG_CUTOFFS[0]
        t0 = time.perf_counter()
        with ctx.span("refresh.asof"):
            out["asof"] = self._run(ctx, self.cutoff)
        self.record("asof_s", time.perf_counter() - t0)

        t0 = time.perf_counter()
        with ctx.span("refresh.noop_rerun"):
            out["noop"] = self._run(ctx, self.cutoff)
        self.record("noop_rerun_s", time.perf_counter() - t0)

        out["lookups"] = []
        for k in range(self.lookups):
            eid = self.lookup_plan[(c * self.lookups + k) % len(self.lookup_plan)]
            t0 = time.perf_counter()
            with ctx.span("refresh.lookup"):
                facts = SnapshotTable(ctx.path("kg"), "kg_facts").read(spark)
                rows = facts.filter(F.col("subj_eid") == eid).collect()
            self.record("lookup_s", time.perf_counter() - t0)
            out["lookups"].append((eid, rows))
        return out

    def op(self, ctx, i):
        t0 = time.perf_counter()
        out = self._cycle(ctx)
        self.record("cycle_s", time.perf_counter() - t0)
        self.units += self.delta_pages
        return out

    def verify(self, ctx, out):
        from darkbo_spark.kg import incremental

        failures = []
        if out["asof"].stages_run != ["kg_facts"]:
            failures.append(f"cutoff move ran {out['asof'].stages_run}, want ['kg_facts']")
        if out["noop"].stages_run != []:
            failures.append(f"identical rerun ran {out['noop'].stages_run}, want []")
        cols = ["url", "sent_idx", "subj", "pred", "obj", "subj_eid", "obj_eid"]
        delta = out["delta"]
        want = sorted(tuple(r) for r in incremental.extract_and_link(delta, self.dictionary)
                      .select(*cols).collect())
        live = published(ctx.path("kg"), "triples_live", cols, set(out["delta_urls"]))
        got = sorted(tuple(r) for r in live.astype(object).where(live.notna(), None)
                     .itertuples(index=False))
        if got != want:
            failures.append("post-upsert triples for delta urls differ from extract_and_link(delta)")
        self.record("upsert_rows", len(want))
        self.record("link_rate", sum(r[5] is not None for r in want) / max(len(want), 1))
        for eid, rows in out["lookups"]:
            if not rows or any(r.subj_eid != eid for r in rows):
                failures.append(f"lookup of {eid} returned {len(rows)} rows or foreign ids")
                break
        return failures

    def report(self):
        s = self.samples
        rep = {}
        for key, name in (("delta_apply_s", "delta_apply_s"), ("asof_s", "asof_s"),
                          ("noop_rerun_s", "noop_rerun_s")):
            if s.get(key):
                rep[name] = (median(s[key]), "s")
        if s.get("lookup_s"):
            ms = [x * 1e3 for x in s["lookup_s"]]
            rep["lookup_p50_ms"] = (median(ms), "ms")
            rep.update(_tail("lookup_tail_ms", ms))
        return rep


def _tail(name, ms):
    t = tail(ms)
    return {name: (t[1], f"ms@p{t[0]:g}")} if t else {}


WORKLOADS = {
    "kg_build": lambda: KgBuild(n_pages=2500, warm_builds=1),
    "kg_refresh": lambda: KgRefresh(n_pages=3000, delta_pages=150, lookups=10),
}
