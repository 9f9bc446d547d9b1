"""End-to-end KG construction pipeline with per-stage checkpoint-resume.

    pages ─E→ docs ─S→ sentences ─T→ raw_triples ─L→ linked ─C/M→ kg_triples
                                                            └───→ kg_entities

Every stage runs through storage/stages.StageRunner: its output is a
versioned table whose fingerprint is sha256(parent_fingerprint : stage
name : params : CODE_VERSION). A rerun (or a resumed run after a kill)
recomputes nothing whose fingerprint already matches the table's current
version. Each run publishes per-file row counts of the stages it ran into
the `_metrics` table and expires every table it touched to keep-last-3.

Stage boundaries are REAL materialization points on purpose: at 100 TB you
do not want a single 6-stage lineage — a lost executor would recompute the
world, and the UDF stages (E/S/T) should run exactly once. The narrow
stages E→S→T are fused into ONE pass (no intermediate write) because they
are per-row maps with no shuffle between them; only their fused output
(raw_triples) is persisted. L/C/M read persisted triples.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.kg.canonicalize import (
    build_entity_table_driver,
    canonicalize_entities,
)
from darkbo_spark.kg.extract import extract_docs
from darkbo_spark.kg.link import link_entities
from darkbo_spark.kg.materialize import bucketize_triples
from darkbo_spark.kg.pages import entity_dictionary_df, synth_pages
from darkbo_spark.kg.triples import extract_doc_triples_df
from darkbo_spark.storage import make_table
from darkbo_spark.storage.snapshots import BuildLock
from darkbo_spark.storage.snapshots import partition_metrics  # noqa: F401  (tracers patch it here)
from darkbo_spark.storage.stages import PipelineResult, StageRunner
from darkbo_spark.storage.stages import fingerprint as _fp

CODE_VERSION = "1"


def run_pipeline(
    spark: SparkSession,
    out_dir: str,
    pages: DataFrame | None = None,
    n_pages: int = 1000,
    seed: int = 42,
    link_strategy: str = "broadcast",
    n_buckets: int = 32,
    write_salt: int = 8,
    input_fingerprint: str | None = None,
    cc_mode: str = "auto",
    fuzzy_fallback: str | None = None,
    facts_asof: str | None = None,
    fusion_mode: str = "auto",
    mine_nil: bool = False,
    nil_min_mentions: int = 2,
    dictionary: DataFrame | None = None,
    dictionary_fingerprint: str = "builtin_v1",
) -> PipelineResult:
    """Run (or resume) the full pipeline; every stage is fingerprint-gated.

    `mine_nil`: adds the `kg_nil_candidates` stage (recurring UNLINKED
    subject surfaces from the published kg_triples — kg/temporal
    .nil_candidates) as a fingerprint-gated table. The crawl-cadence
    growth loop: run N mines, `grown_dictionary(spark, out_dir, dict)`
    builds run N+1's dictionary, and run N+1 links the surfaces run N
    missed (round trip pytest-measured as a link-rate lift).

    `dictionary` / `dictionary_fingerprint`: the canonical entity
    dictionary (default: kg/pages.entity_dictionary_df). A custom
    dictionary MUST carry its own fingerprint — it feeds the eid_map /
    kg_entities / kg_triples stage fingerprints, so a grown dictionary
    correctly republishes the link output while an unchanged one skips.

    `fuzzy_fallback`: None (exact alias linking only, the default),
    "jaccard" or "embed" — second-chance linking for surfaces that miss
    the exact join (kg/link.apply_fuzzy_fallback). Part of the kg_triples
    stage fingerprint, so toggling it republishes.

    `facts_asof`: optional 'YYYY-MM-DD' cutoff — adds the temporal fusion
    stages (kg/temporal.py): `kg_facts` (functional-slot-aware fact state
    as of the cutoff: functional slots latest-wins, multi-valued slots
    full value sets with envelopes) plus the cutoff-independent fusion
    tables `kg_conflicts`
    (functional-violation inventory), `kg_entity_types` (modal is_a),
    `kg_fact_history` (validity envelopes) and `kg_entity_profiles` (the
    entity page). Only kg_facts carries the cutoff in its fingerprint, so
    moving it recomputes ONE dictionary-bounded stage — the crawl-scale
    path for "give me yesterday's fact state" without re-extracting
    anything.

    The whole run is one StageRunner block holding the single-writer
    "pipeline" BuildLock (I2); a second run on the same `out_dir` fails
    fast instead of waiting."""
    with StageRunner(spark, out_dir, "pipeline", CODE_VERSION) as run:
        stage = run.stage
        if pages is None:
            # html is omitted: the extract stage reads `text` only, and a
            # real Iceberg pages scan would prune the binary column anyway
            # (the generator emulates that pruning — mapInPandas can't be
            # pruned)
            pages = synth_pages(
                spark,
                n_pages,
                seed=seed,
                columns=["page_id", "url", "warc_ts", "text", "lang"],
            )
            input_fingerprint = input_fingerprint or _fp(
                "synth_pages", str(n_pages), str(seed)
            )
        assert input_fingerprint, "provide input_fingerprint for external pages input"

        # ---- C: canonicalize — depends ONLY on the dictionary, so it runs
        # in a CONCURRENT job thread overlapping the page stages (Spark
        # schedules jobs from separate threads onto free task slots; the
        # dictionary jobs are single-task and fill the gaps between the big
        # stages' tasks). The two threads touch disjoint tables; any
        # exception is re-raised at join() before anything depends on
        # eid_map. ------------------------------------------------------------
        entity_dict = (
            dictionary if dictionary is not None else entity_dictionary_df(spark)
        )
        # the dictionary is a pipeline INPUT like pages: its fingerprint
        # feeds every dictionary-derived stage, so a grown dictionary
        # republishes eid_map/kg_entities/kg_triples while an unchanged one
        # skips
        dict_parent = _fp(input_fingerprint, "dict", dictionary_fingerprint)
        _dict_result: dict = {}

        def _dict_stages():
            try:
                # mode="auto": driver union-find while the dictionary's
                # estimated collected bytes fit the broadcast threshold
                # (identical output to the distributed star-contraction CC
                # — asserted in tests), iterative DataFrame CC beyond it;
                # tests force cc_mode="distributed" through the full
                # pipeline as well
                eidmap_tbl, fp_m = stage(
                    "eid_map", dict_parent, f"cc_v2_{cc_mode}",
                    lambda: canonicalize_entities(entity_dict, mode=cc_mode).coalesce(1),
                )
                stage(
                    "kg_entities", fp_m, "entities_v1",
                    lambda: build_entity_table_driver(
                        entity_dict, eidmap_tbl.read(spark)
                    ).coalesce(1),
                )
                _dict_result["eidmap_tbl"] = eidmap_tbl
                _dict_result["fp_m"] = fp_m
            except BaseException as e:  # surfaced at join()
                _dict_result["error"] = e

        import threading

        dict_thread = threading.Thread(target=_dict_stages, name="dict-stages")
        dict_thread.start()

        try:
            # ---- E: extract (the expensive byte-exact UDF runs exactly ONCE)
            docs_tbl, fp_d = stage(
                "docs", input_fingerprint, "clean_v1", lambda: extract_docs(pages)
            )
            # ---- fused S→T over persisted docs (ONE UDF pass, one explode)
            triples_tbl, fp_t = stage(
                "raw_triples", fp_d, "en_only",
                lambda: extract_doc_triples_df(docs_tbl.read(spark)),
            )
        finally:
            dict_thread.join()
        if "error" in _dict_result:
            raise _dict_result["error"]
        eidmap_tbl, fp_m = _dict_result["eidmap_tbl"], _dict_result["fp_m"]

        # ---- fused L+M: link → bucketize in ONE pass ----------------------
        # The link dictionary is pre-resolved to CANONICAL ids (dict ⋈
        # eid_map, both dictionary-sized, folded on the small side), so
        # linking attaches canonical entity ids directly — two broadcast
        # joins total instead of link + remap (four). Materializing an
        # intermediate `linked` table would only add a full write+read of
        # every triple; resume granularity stays per-stage (a crash here
        # re-reads persisted raw_triples, never re-extracts). The output is
        # written flat, clustered one-file-per (bucket, salt) by the
        # repartition — with Iceberg this is hidden partitioning
        # `bucket(N, subj_eid)`; file-level min/max stats on subj_bucket
        # give the same pruning locally without the dynamic partitionBy
        # writer's per-task sort.
        def build_kg():
            eid_map = eidmap_tbl.read(spark)
            resolved_dict = entity_dict.join(eid_map, "eid").select(
                "alias", F.col("canon_eid").alias("eid")
            )
            linked = link_entities(
                triples_tbl.read(spark), resolved_dict, strategy=link_strategy
            )
            if fuzzy_fallback:
                from darkbo_spark.kg.link import apply_fuzzy_fallback

                linked = apply_fuzzy_fallback(
                    linked, resolved_dict, method=fuzzy_fallback
                )
            return bucketize_triples(linked, n_buckets=n_buckets, write_salt=write_salt)

        kg_tbl, fp_k = stage(
            "kg_triples",
            fp_t + fp_m,
            f"linkc_{link_strategy}_buckets_{n_buckets}_salt_{write_salt}"
            f"_fb_{fuzzy_fallback or 'none'}",
            build_kg,
        )

        # ---- optional NIL mining: the dictionary-growth worklist ----------
        # Depends only on kg_triples (unlinked surfaces are right there in
        # the published link output). Recurring-surface-bounded — far
        # smaller than the mention stream — so the worklist writes
        # single-file; the NEXT run consumes it via grown_dictionary().
        if mine_nil:
            from darkbo_spark.kg.temporal import nil_candidates

            stage(
                "kg_nil_candidates", fp_k, f"nil_min{nil_min_mentions}_v1",
                lambda: nil_candidates(
                    kg_tbl.read(spark), min_mentions=nil_min_mentions
                ).coalesce(1),
            )

        if facts_asof:
            _fusion_stages(
                spark, stage, entity_dict, kg_tbl, docs_tbl, fp_k + fp_d,
                facts_asof, fusion_mode, n_buckets,
            )
    return run.result


def _fusion_stages(
    spark: SparkSession,
    stage,
    entity_dict: DataFrame,
    kg_tbl,
    docs_tbl,
    parent_fp: str,
    facts_asof: str,
    fusion_mode: str,
    n_buckets: int,
) -> None:
    """Temporal fusion: facts as-of + conflict inventory + the three
    cutoff-independent entity tables.

    Depends on kg_triples AND docs (the per-page crawl date joins back on
    the page key — at crawl scale a co-keyed join, never a product).
    Write shape: the fusion tables are entity-bounded, but the entity
    universe GROWS (nil_candidates exists to grow the dictionary; a real
    KG's is 10^8–10^9), so `coalesce(1)` is only safe while the
    dictionary is provably small. `fusion_mode` mirrors cc_mode's auto
    switch: "driver" (single file) while the dictionary's estimated
    collected bytes fit the broadcast threshold, else "distributed" — the
    kg_triples convention, bucketed on pmod(xxhash64(entity key), N) so no
    single task funnels the fact state and per-entity reads prune to one
    bucket. Every row carries `fact_bucket` in BOTH shapes (schema and
    content are mode-invariant; only physical layout changes, so the
    fingerprint — content identity — excludes the mode)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    from darkbo_spark.kg.temporal import (
        detect_conflicts,
        entity_profiles,
        entity_types,
        fact_history,
        resolve_facts,
    )

    shape = fusion_mode
    if shape == "auto":
        from darkbo_spark.kg.canonicalize import (
            _PY_OVERHEAD,
            _driver_cc_budget_bytes,
        )

        chars = entity_dict.agg(
            F.coalesce(
                F.sum(F.length("eid") + F.length("alias")), F.lit(0)
            ).alias("c")
        ).collect()[0].c
        shape = (
            "driver"
            if chars * _PY_OVERHEAD <= _driver_cc_budget_bytes(spark)
            else "distributed"
        )
    assert shape in ("driver", "distributed"), f"bad fusion_mode {shape}"

    def _fusion_shape(df: DataFrame, key_col: str) -> DataFrame:
        out = df.withColumn(
            "fact_bucket",
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int"),
        )
        if shape == "driver":
            return out.coalesce(1)
        return out.repartition(n_buckets, F.col("fact_bucket"))

    # ONE join of kg_triples ⋈ docs shared by all five fusion stages,
    # persisted for the duration of the block — unpersisted, each stage
    # re-reads and re-joins the full triple stream (5× the dominant input).
    # MEMORY_AND_DISK: spills instead of OOM at scale, and
    # recompute-from-lineage stays available if evicted.
    linked_ts = (
        kg_tbl.read(spark)
        .join(docs_tbl.read(spark).select("url", "warc_ts"), "url")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # NOTE: pre-materializing this persist before the pool (so the five
    # concurrent jobs never race on an unfilled cache) was A/B'd and
    # measured neutral (medians 2.22 s racing vs 2.25 s prefilled at 100k
    # pages) — Spark's per-partition cache locking already bounds
    # duplicated fill work, so the extra serialized pass buys nothing and
    # is not taken.
    try:
        # cutoff-independent tables don't carry facts_asof in their
        # fingerprints, so moving the cutoff recomputes kg_facts alone
        fusion_jobs = [
            (
                "kg_facts", f"asof_{facts_asof}_v2",
                lambda: _fusion_shape(
                    resolve_facts(linked_ts, as_of=facts_asof), "subj_eid"
                ),
            )
        ] + [
            (
                name,
                params,
                # bind fn/key per iteration (late-binding lambda trap)
                lambda fn=fn, key=key: _fusion_shape(fn(linked_ts), key),
            )
            for name, params, fn, key in (
                ("kg_conflicts", "conflicts_v2", detect_conflicts, "subj_eid"),
                ("kg_entity_types", "types_v2", entity_types, "subj_eid"),
                ("kg_fact_history", "history_v2", fact_history, "subj_eid"),
                ("kg_entity_profiles", "profiles_v2", entity_profiles, "eid"),
            )
        ]
        # the five tables are mutually independent (disjoint outputs,
        # shared read-only input), so all of them are in flight at once:
        # Spark schedules concurrent jobs onto free task slots and the next
        # stage's tasks back-fill the tail of the previous one (an
        # interleaved A/B measured 5 in flight fastest, OPTIMIZATION_r08.md
        # §9)
        with ThreadPoolExecutor(max_workers=len(fusion_jobs)) as pool:
            futures = [
                pool.submit(stage, name, parent_fp, params, build)
                for name, params, build in fusion_jobs
            ]
            for f in futures:
                f.result()  # surface the first failure
    finally:
        linked_ts.unpersist()


def maintain_pipeline(
    spark: SparkSession, out_dir: str, retain_last: int = 3,
    lock_wait_s: float = 120.0,
) -> list[dict]:
    """Opt-in maintenance pass over every stage table of a pipeline
    output dir: compact-then-expire per table (storage.snapshots.maintain
    — Iceberg's rewrite_data_files + expire_snapshots pairing), metrics
    rows (files/bytes before and after, versions expired) published to a
    `_maintenance` SnapshotTable alongside the run metrics. Idempotent:
    a second pass right after finds every layout tight and only expires.
    Crawl-cadence operation: ingest deltas fragment the bucketed tables
    over time; this is the scheduled job that heals them. SnapshotTable
    backend only — the Iceberg backend delegates to the catalog's own
    rewrite_data_files/expire_snapshots maintenance.

    Holds the PIPELINE BuildLock for `out_dir` in addition to the
    per-table locks maintain() takes: run_pipeline's stage publishes are
    guarded only by the pipeline-named lock, so without taking it here a
    compact/expire could race a concurrent pipeline publish on the same
    table and re-point current.json at the pre-publish fingerprint."""
    import pandas as pd

    from darkbo_spark.storage.snapshots import SnapshotTable, maintain

    plock = BuildLock(out_dir, "pipeline")
    with plock.hold(f"maint-{os.getpid()}-{time.time()}", lock_wait_s, "pipeline"):
        names = sorted(
            d
            for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))
            and os.path.exists(os.path.join(out_dir, d, "current.json"))
            and d != "_maintenance"
        )
        rows = [
            maintain(spark, SnapshotTable(out_dir, n), retain_last=retain_last)
            for n in names
        ]
    if rows:
        tbl = make_table(out_dir, "_maintenance")
        tbl.publish(
            spark.createDataFrame(pd.DataFrame(rows)).coalesce(1),
            _fp("maintenance", *(f"{r['table']}:{r['files_after']}" for r in rows),
                str(time.time())),
        )
        tbl.expire(retain_last=retain_last)
    return rows


def grown_dictionary(
    spark: SparkSession, out_dir: str, entity_dict: DataFrame
) -> DataFrame:
    """The next crawl cycle's dictionary: `entity_dict` ∪ the NIL surfaces
    a previous `run_pipeline(..., mine_nil=True)` published to
    `kg_nil_candidates` under `out_dir` (kg/link.augment_dictionary —
    namespaced 'nil:' eids). Pair with a fresh `dictionary_fingerprint`
    (e.g. the nil table's current fingerprint) so the relink republishes."""
    from darkbo_spark.kg.link import augment_dictionary

    nil_tbl = make_table(out_dir, "kg_nil_candidates")
    return augment_dictionary(entity_dict, nil_tbl.read(spark))
