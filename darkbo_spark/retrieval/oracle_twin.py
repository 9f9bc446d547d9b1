"""Driver-oracleable twin of the prebuild → stored-index → hybrid serve
flow (retrieval/prebuild.py).

`prebuild_query_hybrid` proves the reference's MAIN flow end to end but
rows-only: its corpus comes from FAQ JSON files the driver's DuckDB gate
cannot see. This twin closes that gap the same way kg/oracle_twin.py does
for the KG pipeline — the item corpus is a SQL expression over the
registered `documents` table, so

* the Spark side runs the REAL stored-serve machinery: the corpus is
  embedded with the Arrow encoder UDF and BM25-postings-ized, all three
  tables (items, dense_index, sparse_postings) are PUBLISHED as
  SnapshotTable versions under a BuildLock, and the query is served by the
  production `query_project` reading ONLY the stored tables (dense ∪
  sparse ∪ basic, dense-first precedence, per-channel top-k), while
* the DuckDB oracle independently replays the whole serve in pure SQL:
  the md5 hash-projection encoder (kg.oracle_twin.enc_cte, float32
  quantization included), cosine top-k, the QueryParser AND-match + BM25
  ranking over postings derived from the same corpus, the lexical
  relevance scorer, and the priority-window hybrid merge.

A hash-exact driver row therefore proves "materialize once, serve many"
loses nothing — store+serve ≡ a from-scratch SQL evaluation of the same
query. Reference flow: prebuild_kb.py:61-199 → api/index_versioning.py:
277-485 → ai_worker.py:172-261.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.kg.oracle_twin import enc_cte
from darkbo_spark.operators.queryparse import parse_query
from darkbo_spark.operators.scoring import relevance_score_sql

TWIN_QUERY = "fast table scan"
TWIN_ID_LIMIT = 120
TWIN_TOP_K = 8
_PROJECT = "prebuild_twin"


def twin_items(docs: DataFrame, id_limit: int = TWIN_ID_LIMIT) -> DataFrame:
    """(id, title, content) item corpus as a SQL-replayable projection of
    the documents table (title plays the reference's FAQ-question /
    KB-article role)."""
    return docs.filter(F.col("doc_id") < id_limit).select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("title"),
        F.col("text").alias("content"),
    )


def prebuild_twin_serve(
    spark: SparkSession, sf_dir: str, fingerprint: str
) -> DataFrame:
    """Publish the twin project's three index tables (fingerprint-gated,
    lock-protected — the prebuild_project publish body, waiting up to
    120 s for a concurrent publisher) and serve TWIN_QUERY from the STORED
    tables via the production query_project."""
    from darkbo_spark.retrieval.prebuild import publish_indexes, query_project

    out_dir = os.path.join(
        tempfile.gettempdir(), f"darkbo_spark_prebuild_twin_u{os.getuid()}"
    )
    base = os.path.join(out_dir, _PROJECT)
    os.makedirs(base, exist_ok=True)
    publish_indexes(
        base, fingerprint,
        lambda: twin_items(spark.read.parquet(f"{sf_dir}/documents.parquet")),
        120.0, "prebuild twin",
    )
    return query_project(spark, out_dir, _PROJECT, TWIN_QUERY, top_k=TWIN_TOP_K)


def prebuild_twin_oracle_sql(
    query: str = TWIN_QUERY, id_limit: int = TWIN_ID_LIMIT, k: int = TWIN_TOP_K
) -> str:
    """Pure-SQL replay of query_project over the twin corpus: dense channel
    (hash encoder, float32-quantized, cosine round-6, top-k on
    (score DESC, id ASC)), sparse channel (QueryParser AND terms → BM25
    Σ of 6dp-rounded weights, decimal-summed), basic channel (the
    reference scorer's arithmetic), each limited to k BEFORE the
    dense>sparse>basic precedence merge — exactly the serve path."""
    pq = parse_query(query)
    assert pq.terms and not pq.phrases, "twin query must be plain AND terms"
    terms = sorted(set(pq.terms))
    term_list = ", ".join(repr(t) for t in terms)
    basic_score = relevance_score_sql(query, "lower(content)", "lower(title)")
    # per-(token, doc) BM25 weight — mirrors build_bm25_postings term by
    # term (k1=1.2, b=0.75; 2.2 cast to DOUBLE so DuckDB multiplies in
    # IEEE doubles like Spark, not exact DECIMAL)
    w = (
        "ROUND(ln(1.0 + ((SELECT n_docs FROM n) - df + 0.5) / (df + 0.5))"
        " * ((tf * CAST(2.2 AS DOUBLE))"
        " / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM s)))), 6)"
    )
    return f"""
WITH items AS (
  SELECT doc_id AS id, source AS title, text AS content
  FROM documents WHERE doc_id < {id_limit}
),
encsrc AS (
  SELECT CAST(id AS STRING) AS key, content AS txt FROM items
  UNION ALL
  SELECT '__query__' AS key, '{query}' AS txt
),
{enc_cte('encsrc', 'key', 'txt', quantize=True).lstrip().lstrip(',').lstrip()},
qv AS (SELECT vec FROM enc_vec WHERE key = '__query__'),
dense_all AS (
  SELECT i.id,
         round(list_dot_product(v.vec, qv.vec)
               / (sqrt(list_dot_product(v.vec, v.vec))
                  * sqrt(list_dot_product(qv.vec, qv.vec))), 6) AS score
  FROM items i
  JOIN enc_vec v ON v.key = CAST(i.id AS STRING)
  CROSS JOIN qv
),
dense AS (
  SELECT id, score, 0 AS pri FROM dense_all ORDER BY score DESC, id ASC LIMIT {k}
),
toks AS (
  SELECT id AS doc_id,
         unnest(list_filter(string_split_regex(lower(content), ' +'), x -> x <> '')) AS token
  FROM items
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), n AS (SELECT COUNT(*) AS n_docs FROM items),
s AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / CAST((SELECT n_docs FROM n) AS DOUBLE) AS avgdl FROM dl
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
matched AS (
  SELECT doc_id FROM tf
  WHERE token IN ({term_list})
  GROUP BY doc_id
  HAVING COUNT(DISTINCT token) = {len(terms)}
),
sparse AS (
  SELECT id, score, 1 AS pri FROM (
    SELECT tf.doc_id AS id,
           CAST(SUM(CAST({w} AS DECIMAL(18,6))) AS DOUBLE) AS score
    FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
    WHERE token IN ({term_list})
      AND tf.doc_id IN (SELECT doc_id FROM matched)
    GROUP BY tf.doc_id
    ORDER BY score DESC, id ASC
    LIMIT {k}
  )
),
basic AS (
  SELECT id, {basic_score} AS score, 2 AS pri
  FROM items
  WHERE {basic_score} > 0
  ORDER BY score DESC, id ASC
  LIMIT {k}
),
unioned AS (
  SELECT * FROM dense UNION ALL SELECT * FROM sparse UNION ALL SELECT * FROM basic
)
SELECT id, score,
       CASE pri WHEN 0 THEN 'dense' WHEN 1 THEN 'sparse' ELSE 'basic' END AS search_type
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY pri ASC, score DESC) AS rk
  FROM unioned
) WHERE rk = 1
ORDER BY score DESC, id ASC
LIMIT {k}
"""
