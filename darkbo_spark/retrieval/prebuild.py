"""End-to-end per-project retrieval index prebuild + stored-index serving.

This is the reference's MAIN entry flow restated for Spark (behavior:
prebuild_kb.py:61-199 — auto-discover projects, checksum-gated per-project
IndexBuilder.build_new_version; api/index_versioning.py:277-485 — FAQ rows
become items with content "question answer", KB rows items with
title=article, then a dense vector index and a sparse text index are built
per version; queries run dense/sparse/basic channels and hybrid-merge,
ai_worker.py:172-261):

* `prebuild_all` / `prebuild_project` — discover → read FAQ/KB → item
  corpus → publish THREE SnapshotTable versions per project (items,
  dense_index, sparse_postings) under out_dir/{project_id}/, all gated by
  ONE data-file checksum fingerprint (unchanged inputs → zero work, the
  reference's needs_rebuild semantics), under the project's BuildLock,
  keep-last-3 retention.
* `query_project` — serve a raw query string entirely from the STORED
  tables: dense (embed the query, exact cosine vs the stored vectors),
  sparse (QueryParser semantics over the stored BM25 postings), basic
  (lexical relevance over stored items), hybrid-merged with dense-first
  precedence — the reference's search path shape, ai_worker.py:233-261.

Scale notes: each project's build is a handful of narrow passes (one Arrow
embed pass, one postings shuffle); projects are independent — a real
deployment fans them out as concurrent Spark jobs or one job over a
project-partitioned corpus. Serving reads only the published version
directories (immutable, atomically swapped), so queries never observe a
half-built index.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.functions.embed import embed_udf
from darkbo_spark.operators.hybrid import hybrid_merge
from darkbo_spark.operators.queryparse import search_text
from darkbo_spark.operators.scoring import relevance_score_col
from darkbo_spark.operators.similarity import brute_force_topk
from darkbo_spark.operators.tfidf import build_bm25_postings
from darkbo_spark.sources.discovery import discover_project_dirs
from darkbo_spark.sources.readers import read_faq_json, read_kb_json
from darkbo_spark.storage.snapshots import BuildLock, SnapshotTable


def project_items(
    spark: SparkSession, project_id: str, paths: dict[str, str | None]
) -> DataFrame:
    """(id, type, title, content) — the reference's item corpus, delegated
    to the one item-shape definition in sources/readers.py (faq_items /
    kb_items): FAQ content is 'question answer' (title=question), KB
    content is the chunk body (title=article)."""
    from darkbo_spark.sources.readers import faq_items, kb_items

    parts = []
    if paths.get("faq"):
        parts.append(faq_items(read_faq_json(spark, paths["faq"], project_id)))
    if paths.get("kb"):
        parts.append(kb_items(read_kb_json(spark, paths["kb"], project_id)))
    if not parts:
        raise ValueError(f"project {project_id} has no FAQ or KB data")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop("project_id")


def _data_fingerprint(paths: dict[str, str | None]) -> str:
    """Checksum over the project's data FILES (the reference's
    needs_rebuild input checksums) — identical bytes → identical
    fingerprint → publish() skips."""
    h = hashlib.sha256()
    for kind in ("faq", "kb"):
        p = paths.get(kind)
        h.update(kind.encode())
        if p and os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


INDEX_TABLES = ("items", "dense_index", "sparse_postings")


def publish_indexes(
    base: str, fingerprint: str, items_fn, lock_wait_s: float, what: str
) -> bool:
    """Publish one project's three index tables (items, dense_index,
    sparse_postings) under `base`, all carrying `fingerprint`, under the
    project's BuildLock with keep-last-3 retention. `items_fn()` returns
    the (id, title, content) item corpus and is only called when a build
    is needed. Returns False when every table was already current — on
    entry, or because a concurrent publisher finished while we waited."""
    tables = [SnapshotTable(base, name) for name in INDEX_TABLES]

    def fresh() -> bool:
        return all(t.current_fingerprint() == fingerprint for t in tables)

    if fresh():
        return False
    lock = BuildLock(base, "prebuild")
    owner = f"prebuild-{os.getpid()}-{time.time()}"
    with lock.hold(owner, lock_wait_s, what, ready=fresh):
        if fresh():  # double-checked under the lock
            return False
        items = items_fn()
        # one Arrow pass: embeddings ride along with the items scan
        dense = items.select("id", embed_udf(F.col("content")).alias("embedding"))
        postings = build_bm25_postings(
            items, text_col="content", id_col="id", persist=False
        )
        for t, df in zip(tables, (items, dense, postings)):
            t.publish(df, fingerprint)
        for t in tables:
            t.expire(retain_last=3)
    return True


def prebuild_project(
    spark: SparkSession,
    project_id: str,
    paths: dict[str, str | None],
    out_dir: str,
    lock_wait_s: float = 0.0,
) -> dict:
    """Build (or skip) one project's retrieval indexes. Returns
    {"project_id", "fingerprint", "skipped": bool, "versions": {...}}.
    `lock_wait_s`: how long to wait for a concurrent builder of the same
    project (0 = fail fast with RuntimeError)."""
    base = os.path.join(out_dir, project_id)
    os.makedirs(base, exist_ok=True)
    fp = _data_fingerprint(paths)
    built = publish_indexes(
        base, fp, lambda: project_items(spark, project_id, paths), lock_wait_s,
        f"prebuild {project_id}",
    )
    return {
        "project_id": project_id,
        "fingerprint": fp,
        "skipped": not built,
        "versions": {
            name: SnapshotTable(base, name).current()["version"]
            for name in INDEX_TABLES
        },
    }


def prebuild_all(
    spark: SparkSession, data_dir: str, out_dir: str, lock_wait_s: float = 0.0
) -> dict:
    """The prebuild_kb.py main loop: discover every project under data_dir
    and build each one's indexes (checksum-skip per project)."""
    projects = discover_project_dirs(data_dir)
    results = {}
    for pid, paths in sorted(projects.items()):
        results[pid] = prebuild_project(spark, pid, paths, out_dir, lock_wait_s)
    return results


def query_project(
    spark: SparkSession,
    out_dir: str,
    project_id: str,
    query: str,
    top_k: int = 5,
) -> DataFrame:
    """Serve a raw query from the STORED indexes: dense ∪ sparse ∪ basic
    with dense-first precedence dedup and top-k — (id, score, search_type).
    Mirrors ai_worker's hybrid search over the versioned indexes."""
    base = os.path.join(out_dir, project_id)
    items = SnapshotTable(base, "items").read(spark)
    dense_idx = SnapshotTable(base, "dense_index").read(spark)
    postings = SnapshotTable(base, "sparse_postings").read(spark)

    import pandas as pd

    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "qtext": [query]})).select(
        "qid",
        F.transform(embed_udf(F.col("qtext")), lambda x: x.cast("double")).alias("qvec"),
    )
    corpus = dense_idx.select(
        F.col("id").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dense = brute_force_topk(corpus, qdf, k=top_k).select(
        F.col("doc_id").alias("id"), "score"
    )
    sparse = search_text(
        items, query, text_col="content", id_col="id", top_k=top_k, postings=postings
    ).select(F.col("doc_id").alias("id"), "score")
    basic = (
        items.select(
            "id",
            relevance_score_col(
                query.lower(), F.lower("content"), F.lower("title")
            ).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )
    return hybrid_merge(
        {"dense": dense, "sparse": sparse, "basic": basic}, top_k=top_k
    )
