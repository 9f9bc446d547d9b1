"""End-to-end KG pipeline: golden triple parity (P/R vs the plain-Python
oracle — BASELINE target ≥0.95, engineered to 1.0), byte-identical docs,
fingerprint-gated resume, and broadcast≡salted link equivalence."""

import json
import os
import shutil

import pytest

from darkbo_spark import reference_impl as ref
from darkbo_spark.kg.pages import entity_dictionary_df, synth_pages
from darkbo_spark.kg.pipeline import run_pipeline
from darkbo_spark.kg.link import link_entities
from darkbo_spark.kg.extract import extract_docs
from darkbo_spark.kg.triples import extract_raw_triples, segment_sentences

N_PAGES = 120
SEED = 11


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kg_out"))


@pytest.fixture(scope="module")
def result(spark, out_dir):
    return run_pipeline(spark, out_dir, n_pages=N_PAGES, seed=SEED)


def _golden(spark):
    pdf = synth_pages(spark, N_PAGES, seed=SEED).select("url", "text").toPandas()
    gold = []
    for r in pdf.itertuples():
        gold.extend(ref.extract_doc_triples(r.url, r.text))
    return pdf, gold


def test_triples_match_golden_exactly(spark, result):
    pdf, gold = _golden(spark)
    gold_set = {
        (g["url"], g["sent_idx"], g["subj"], g["pred"], g["obj"], g["triple_id"])
        for g in gold
    }
    got = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj, r.triple_id)
        for r in result.tables["raw_triples"].read(spark).collect()
    }
    tp = len(gold_set & got)
    precision = tp / len(got)
    recall = tp / len(gold_set)
    assert precision >= 0.95 and recall >= 0.95
    assert gold_set == got  # engineered to exact


def test_docs_byte_identical(spark, result):
    pdf, _ = _golden(spark)
    docs = {r.url: r.text for r in result.tables["docs"].read(spark).collect()}
    for r in pdf.itertuples():
        assert docs[r.url] == ref.clean_text(r.text)


def test_linking_against_generator_ground_truth(spark):
    """Every fact sentence's subject surface must link to the canonical
    entity the generator used (exact alias match; gt carries canonical)."""
    pages = synth_pages(spark, 60, seed=3, with_ground_truth=True)
    pdf = pages.select("url", "gt_triples").toPandas()
    docs = extract_docs(pages)
    raw = extract_raw_triples(segment_sentences(docs))
    linked = link_entities(raw, entity_dictionary_df(spark))
    got = {(r.url, r.subj, r.pred): r.subj_eid for r in linked.collect()}
    checked = 0
    for r in pdf.itertuples():
        for g in json.loads(r.gt_triples):
            if g["se"] is None:
                continue
            key = (r.url, g["s"], g["p"])
            if key in got:
                assert got[key] == ref.uuid5_id("entity", g["se"]), key
                checked += 1
    assert checked > 20


def test_canonicalize_driver_equals_distributed(spark):
    from darkbo_spark.kg.canonicalize import (
        build_entity_table,
        build_entity_table_driver,
        canonicalize_entities,
    )

    d = entity_dictionary_df(spark)
    a = {(r.eid, r.canon_eid) for r in canonicalize_entities(d, mode="driver").collect()}
    b = {
        (r.eid, r.canon_eid)
        for r in canonicalize_entities(d, mode="distributed").collect()
    }
    assert a == b and len(a) > 0

    m = canonicalize_entities(d, mode="driver")
    ea = {
        (r.eid, r.canonical, tuple(r.aliases))
        for r in build_entity_table_driver(d, m).collect()
    }
    eb = {
        (r.eid, r.canonical, tuple(r.aliases))
        for r in build_entity_table(d, m).collect()
    }
    assert ea == eb


def test_salted_equals_broadcast(spark):
    pages = synth_pages(spark, 40, seed=5)
    raw = extract_raw_triples(segment_sentences(extract_docs(pages)))
    d = entity_dictionary_df(spark)
    cols = ["triple_id", "subj_eid", "obj_eid"]
    b = {tuple(r) for r in link_entities(raw, d, "broadcast").select(cols).collect()}
    s = {tuple(r) for r in link_entities(raw, d, "salted").select(cols).collect()}
    assert b == s


def test_resume_skips_everything(spark, out_dir, result):
    res2 = run_pipeline(spark, out_dir, n_pages=N_PAGES, seed=SEED)
    assert res2.stages_run == []
    assert set(res2.stages_skipped) == {
        "docs", "raw_triples", "eid_map", "kg_entities", "kg_triples",
    }


def test_resume_after_partial_kill(spark, out_dir, result):
    """Simulate a crash after the triples stage: nuke the downstream tables'
    pointers → rerun recomputes only downstream, and output is identical."""
    before = {
        (r.triple_id, r.subj_eid, r.obj_eid)
        for r in result.tables["kg_triples"].read(spark).collect()
    }
    for t in ["eid_map", "kg_entities", "kg_triples"]:
        os.remove(os.path.join(out_dir, t, "current.json"))
    res3 = run_pipeline(spark, out_dir, n_pages=N_PAGES, seed=SEED)
    assert "raw_triples" in res3.stages_skipped and "docs" in res3.stages_skipped
    assert set(res3.stages_run) == {"eid_map", "kg_entities", "kg_triples"}
    after = {
        (r.triple_id, r.subj_eid, r.obj_eid)
        for r in res3.tables["kg_triples"].read(spark).collect()
    }
    assert before == after


def test_input_change_triggers_rebuild(spark, out_dir, result):
    res4 = run_pipeline(spark, out_dir, n_pages=N_PAGES + 1, seed=SEED)
    assert "raw_triples" in res4.stages_run


def test_metrics_and_retention(spark, out_dir, result):
    import os

    from darkbo_spark.storage.snapshots import SnapshotTable

    mt = SnapshotTable(out_dir, "_metrics")
    rows = mt.read(spark).collect()
    stages = {r.stage for r in rows}
    assert {"docs", "raw_triples", "kg_triples"} <= stages
    assert all(r.rows >= 0 for r in rows)
    # four more publishing runs (after the first, each recomputes only the
    # dictionary-sized kg_entities stage), so _metrics is published more
    # than three times
    for _ in range(4):
        os.remove(os.path.join(out_dir, "kg_entities", "current.json"))
        res = run_pipeline(spark, out_dir, n_pages=N_PAGES, seed=SEED)
        assert "kg_entities" in res.stages_run
    # retention actually enforced: the pipeline expires to keep-last-3, so
    # no table dir may accumulate more than 3 committed versions (earlier
    # tests reran the pipeline with changed inputs = multiple publishes)
    for name in ("docs", "raw_triples", "kg_triples", "eid_map", "kg_entities",
                 "_metrics"):
        tbl = SnapshotTable(out_dir, name)
        committed = tbl.versions()
        assert len(committed) <= 3, (name, [m["version"] for m in committed])


def test_pipeline_distributed_cc(spark):
    """The open-vocabulary configuration: full pipeline with the iterative
    DataFrame CC (cc_mode='distributed') — same triples and same entity
    merge as a driver-union-find run over the same input (self-contained
    dirs: the shared out_dir is mutated by other tests)."""
    import tempfile

    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        res_drv = run_pipeline(spark, d1, n_pages=40, seed=7, cc_mode="driver")
        res_dst = run_pipeline(spark, d2, n_pages=40, seed=7, cc_mode="distributed")
        assert "eid_map" in res_dst.stages_run
        a = {
            (r.eid, r.canon_eid)
            for r in res_dst.tables["eid_map"].read(spark).collect()
        }
        b = {
            (r.eid, r.canon_eid)
            for r in res_drv.tables["eid_map"].read(spark).collect()
        }
        assert a == b and len(a) > 0
        ta = {
            (r.triple_id, r.subj_eid, r.obj_eid)
            for r in res_dst.tables["kg_triples"].read(spark).collect()
        }
        tb = {
            (r.triple_id, r.subj_eid, r.obj_eid)
            for r in res_drv.tables["kg_triples"].read(spark).collect()
        }
        assert ta == tb and len(ta) > 0


def test_pipeline_build_lock_blocks_concurrent_run(spark, out_dir, result):
    """A second publisher must be refused while the lock is held."""
    from darkbo_spark.storage.snapshots import BuildLock

    lock = BuildLock(out_dir, "pipeline")
    assert lock.acquire("other-owner")
    try:
        with pytest.raises(RuntimeError, match="lock"):
            run_pipeline(spark, out_dir, n_pages=N_PAGES, seed=SEED)
    finally:
        lock.release("other-owner")
    # and the lock is released after a normal run (no leftover lock file)
    run_pipeline(spark, out_dir, n_pages=N_PAGES, seed=SEED)
    assert lock.owner() is None


def test_pipeline_fuzzy_fallback_flag(spark):
    """fuzzy_fallback='embed' through the full pipeline: the link rate on
    unmatched surfaces must not get worse, exact links must be identical to
    the no-fallback run, and the stage fingerprint must differ (toggling
    the flag republishes)."""
    import tempfile

    import pyspark.sql.functions as F

    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        base = run_pipeline(spark, d1, n_pages=40, seed=7)
        fb = run_pipeline(spark, d2, n_pages=40, seed=7, fuzzy_fallback="embed")
        t_base = base.tables["kg_triples"].read(spark)
        t_fb = fb.tables["kg_triples"].read(spark)
        n_base = t_base.filter(F.col("subj_eid").isNull()).count()
        n_fb = t_fb.filter(F.col("subj_eid").isNull()).count()
        assert n_fb <= n_base
        # exact links unchanged: every (triple_id, subj_eid) pair that the
        # base run linked appears identically in the fallback run
        exact = {
            (r.triple_id, r.subj_eid)
            for r in t_base.filter(F.col("subj_eid").isNotNull()).collect()
        }
        with_fb = {
            (r.triple_id, r.subj_eid)
            for r in t_fb.filter(F.col("subj_eid").isNotNull()).collect()
        }
        assert exact <= with_fb
        fp1 = base.tables["kg_triples"].current_fingerprint()
        fp2 = fb.tables["kg_triples"].current_fingerprint()
        assert fp1 != fp2


def test_cc_auto_gate_is_byte_bounded(spark):
    """mode='auto' routes on estimated collected BYTES, not row count: the
    same tiny dictionary goes driver-side under a roomy budget and
    distributed when the budget is just under its estimated footprint —
    with identical output either way."""
    from unittest.mock import patch

    import pyspark.sql.functions as F

    from darkbo_spark.kg import canonicalize as c
    from darkbo_spark.kg.pages import entity_dictionary_df

    d = entity_dictionary_df(spark)
    pairs = d.select("eid", c._norm(F.col("alias")).alias("alias_norm")).distinct()
    chars = pairs.agg(
        F.sum(F.length("eid") + F.length("alias_norm")).alias("n")
    ).collect()[0].n
    est = chars * c._PY_OVERHEAD

    with patch.object(c, "_driver_cc", wraps=c._driver_cc) as drv:
        small = c.canonicalize_entities(d, mode="auto", max_driver_bytes=est + 1)
        small_rows = {(r.eid, r.canon_eid) for r in small.collect()}
        assert drv.call_count == 1  # fits → driver union-find

        big = c.canonicalize_entities(d, mode="auto", max_driver_bytes=est - 1)
        big_rows = {(r.eid, r.canon_eid) for r in big.collect()}
        assert drv.call_count == 1  # over budget → distributed path
    assert small_rows == big_rows and len(small_rows) > 0


def test_cc_budget_parses_broadcast_threshold(spark):
    from darkbo_spark.kg.canonicalize import _driver_cc_budget_bytes

    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in [("10485760", 10 << 20), ("10MB", 10 << 20),
                          ("512k", 512 << 10), ("-1", 10 << 20)]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert _driver_cc_budget_bytes(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_pipeline_nil_mining_growth_roundtrip(spark, tmp_path):
    """Crawl-cadence dictionary growth through the PIPELINE: run 1 with a
    holey dictionary mines recurring unlinked surfaces into the
    kg_nil_candidates stage table; grown_dictionary builds run 2's
    dictionary; run 2 links the surfaces run 1 missed (strict link-rate
    lift on identical pages). A rerun of run 1 skips the nil stage like
    any other fingerprint-gated stage; a changed dictionary fingerprint
    republishes the link output."""
    from pyspark.sql import functions as F

    from darkbo_spark.kg.link import _norm, link_rate
    from darkbo_spark.kg.pages import entity_dictionary_df
    from darkbo_spark.kg.pipeline import grown_dictionary, run_pipeline

    holey = entity_dictionary_df(spark).filter(
        ~_norm(F.col("alias")).rlike("^[a-c]")
    )
    out1 = str(tmp_path / "run1")
    res1 = run_pipeline(
        spark, out1, n_pages=150, seed=11, mine_nil=True,
        dictionary=holey, dictionary_fingerprint="holey_v1",
    )
    assert "kg_nil_candidates" in res1.stages_run
    assert res1.rows["kg_nil_candidates"] > 0

    # rerun skips everything including the nil stage
    res1b = run_pipeline(
        spark, out1, n_pages=150, seed=11, mine_nil=True,
        dictionary=holey, dictionary_fingerprint="holey_v1",
    )
    assert not res1b.stages_run

    grown = grown_dictionary(spark, out1, holey)
    out2 = str(tmp_path / "run2")
    res2 = run_pipeline(
        spark, out2, n_pages=150, seed=11,
        dictionary=grown, dictionary_fingerprint="holey_v1+nil1",
    )
    r1 = link_rate(res1.tables["kg_triples"].read(spark)).collect()[0]
    r2 = link_rate(res2.tables["kg_triples"].read(spark)).collect()[0]
    assert r2.n_mentions == r1.n_mentions
    assert r2.n_linked > r1.n_linked and r2.link_rate > r1.link_rate
    # the grown entities actually carry links in run 2's published KG
    assert (
        res2.tables["kg_triples"].read(spark)
        .filter(F.col("subj_eid").startswith("nil:"))
        .count()
        > 0
    )
