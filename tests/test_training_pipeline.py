"""Resumable training-data pipeline runner (training/pipeline.py)."""

import os

from pyspark.sql import functions as F

from darkbo_spark.operators.domains import host_of, registered_domain
from darkbo_spark.queries.domain_queries import _DOC_URL_SQL
from darkbo_spark.queries.pipeline_queries import training_pipeline
from darkbo_spark.storage import make_table
from darkbo_spark.training.pipeline import run_training_pipeline

SF = "/root/testdata/sf0.001"

def _domain():
    return registered_domain(host_of(F.expr(_DOC_URL_SQL)))


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "n_chars"
    )


def _packed_rows(res, spark):
    return {
        (r.doc_id, r.domain, r.n_tokens, r.cum_tokens, r.shard_id)
        for r in res.tables["packed"].read(spark)
        .select("doc_id", "domain", "n_tokens", "cum_tokens", "shard_id").collect()
    }


def test_staged_equals_one_job_composition(spark, tmp_path):
    res = run_training_pipeline(
        spark, str(tmp_path / "tp"), _docs(spark), "fp_a", _domain(), "docurl-v1"
    )
    assert res.stages_run == ["gated", "deduped", "capped", "sampled", "packed"]
    want = {
        (r.doc_id, r.domain, r.n_tokens, r.cum_tokens, r.shard_id)
        for r in training_pipeline(spark, SF).collect()
    }
    assert _packed_rows(res, spark) == want


def test_resume_skips_all_then_downstream_only(spark, tmp_path):
    out = str(tmp_path / "tp")
    run_training_pipeline(spark, out, _docs(spark), "fp_a", _domain(), "docurl-v1")
    # unchanged rerun: everything skips
    res2 = run_training_pipeline(spark, out, _docs(spark), "fp_a", _domain(), "docurl-v1")
    assert res2.stages_run == [] and len(res2.stages_skipped) == 5
    # kill-resume: invalidate a mid stage (as a crash before its commit
    # would) → ONLY that stage recomputes; upstream skips, and downstream
    # stays valid too because the fingerprint CHAIN is unchanged (the
    # recomputed stage reproduces identical content by construction)
    os.remove(os.path.join(out, "capped", "current.json"))
    res3 = run_training_pipeline(spark, out, _docs(spark), "fp_a", _domain(), "docurl-v1")
    assert res3.stages_run == ["capped"]
    assert res3.stages_skipped == ["gated", "deduped", "sampled", "packed"]
    # the resumed run's own metrics rows are published, for its stages only
    metrics = make_table(out, "_metrics").read(spark).collect()
    assert {r.stage for r in metrics} == set(res3.stages_run)
    want = {
        (r.doc_id, r.domain, r.n_tokens, r.cum_tokens, r.shard_id)
        for r in training_pipeline(spark, SF).collect()
    }
    assert _packed_rows(res3, spark) == want


def test_param_change_invalidates_downstream_only(spark, tmp_path):
    out = str(tmp_path / "tp")
    run_training_pipeline(spark, out, _docs(spark), "fp_a", _domain(), "docurl-v1")
    for fraction in (0.5, 0.6, 0.7, 0.9):
        res = run_training_pipeline(
            spark, out, _docs(spark), "fp_a", _domain(), "docurl-v1",
            sample_fraction=fraction,
        )
        assert res.stages_skipped == ["gated", "deduped", "capped"]
        assert res.stages_run == ["sampled", "packed"]
        if fraction == 0.5:
            n_half = res.rows["sampled"]
            assert 0 < n_half < res.tables["capped"].read(spark).count()
    # every run expires what it touched to keep-last-3
    for name in ("gated", "deduped", "capped", "sampled", "packed", "_metrics"):
        versions = make_table(out, name).versions()
        assert len(versions) <= 3, (name, [m["version"] for m in versions])
