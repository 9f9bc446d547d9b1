"""Deduplication family: exact hash dedup, the composite training-data
filter, token-Jaccard and embedding-cosine all-pairs verification twins,
and the MinHash-LSH / SimHash banding pipelines with their portable-hash
DuckDB twins.

Part of the driver-contract query corpus (see darkbo_spark/entry_queries.py
for the registry, driver-window ordering, and the shared float discipline:
money aggregates sum in DECIMAL, short array folds round to 6 dp on both
engines, every computed column is aliased identically in Spark and SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.functions import text_analysis as ta
from darkbo_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash,
    token_jaccard_pairs,
)

from darkbo_spark.queries.common import _q, _t


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

@_q(
    "exact_dedup_docs",
    "SELECT md5(text) AS fingerprint, MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id").select(
        "fingerprint", "doc_id"
    )

_JACCARD_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'), x -> x <> '')) AS token
  FROM documents WHERE doc_id < 60
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM toks a JOIN toks b USING (token)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
"""


@_q("token_jaccard_pairs", _JACCARD_ORACLE)
def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return token_jaccard_pairs(docs, "text", "doc_id", min_jaccard=0.5)

# composite training-data filter — the operators chained the way a corpus
# pipeline actually uses them: language gate → quality gate → exact dedup
# (first doc_id per fingerprint wins)
_TRAIN_FILTER_ORACLE = f"""
WITH gated AS (
  SELECT doc_id, md5(text) AS fingerprint
  FROM documents
  WHERE {ta.sql_lang_id('text')} = 'en_like' AND {ta.sql_quality_score('text')} >= 0.7
)
SELECT fingerprint, MIN(doc_id) AS doc_id
FROM gated GROUP BY fingerprint
"""


@_q("training_data_filter", _TRAIN_FILTER_ORACLE)
def training_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(
        (ta.lang_id_heuristic(F.col("text")) == "en_like")
        & (ta.quality_score(F.col("text")) >= 0.7)
    )
    return exact_dedup(gated, "text", "doc_id").select("fingerprint", "doc_id")

_COSINE_NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
"""


@_q("cosine_neardup_pairs", _COSINE_NEARDUP_ORACLE)
def cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from darkbo_spark.operators.dedup import cosine_neardup_pairs

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    return cosine_neardup_pairs(emb, "embedding", "vec_id", min_cosine=0.4)

# ONE limit constant shared by the Spark corpus, its SQL twin, and the
# portable-minhash oracle builder — a single knob, so the two sides can
# never desync on corpus size
_NEARDUP_ID_LIMIT = 200


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id<_NEARDUP_ID_LIMIT) plus PLANTED near-duplicates:
    docs 0..19 re-appear as doc_id+100000 with one appended token. The
    word-salad corpora differ per scale factor, and at sf0.1 the first 200
    docs happen to contain no natural near-dups — planting guarantees the
    LSH queries return real pairs at EVERY sf instead of being data-lucky."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _NEARDUP_ID_LIMIT)
        .select("doc_id", "text")
    )
    dups = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planted near duplicate")).alias("text"),
    )
    return docs.unionByName(dups)


# dialect-neutral SQL rendering of the SAME corpus (for the DuckDB twins)
_NEARDUP_CORPUS_SQL = f"""
(SELECT doc_id, text FROM documents WHERE doc_id < {_NEARDUP_ID_LIMIT}
 UNION ALL
 SELECT doc_id + 100000 AS doc_id, text || ' planted near duplicate' AS text
 FROM documents WHERE doc_id < 20)
"""


@_q("minhash_lsh_pairs")  # rows-only: containment vs exact Jaccard in pytest
def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _neardup_corpus(spark, sf_dir)
    return minhash_lsh_pairs(docs, "text", "doc_id", k=16, bands=4)


@_q("simhash_docs")  # rows-only: determinism + hamming properties in pytest
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash(docs, "text", "doc_id")


@_q("simhash_neardup_pairs")  # rows-only: banded == brute-force in pytest
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from darkbo_spark.operators.dedup import simhash_neardup_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=8)


def _simhash_sig_oracle(id_limit: int) -> str:
    """Portable 60-bit SimHash SIGNATURES (the tf-weighted bit-vote packing
    itself, not just the banded pairs) — the sims CTE of the pairs oracle,
    projected directly."""
    nbits = 60
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS b{i}"
        for i in range(nbits)
    )
    pack = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(nbits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS token
  FROM documents WHERE doc_id < {id_limit}
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token <> ''
  GROUP BY doc_id, token
), h AS (
  SELECT doc_id, tf,
         CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS h
  FROM tf
), agg AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM agg
ORDER BY doc_id
"""


@_q("simhash_docs_x", _simhash_sig_oracle(200))
def simhash_docs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature computation itself hash-oracled in portable mode
    (60-bit md5 hash; xxhash64 `simhash_docs` above stays production)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash(docs, "text", "doc_id", hash_mode="portable")


# ---------------------------------------------------------------------------
# Cross-engine-hash twins: the SAME MinHash-LSH / SimHash banding pipelines
# with hash_mode="portable" (md5-60 instead of xxhash64), so DuckDB replays
# the IDENTICAL algorithm end-to-end and the driver hash-verifies the
# output. The xxhash64 form stays the production path; these twins prove
# the banding/cap/self-join machinery bit-for-bit.
# ---------------------------------------------------------------------------

# the portable 60-bit hash, in each engine's dialect (values verified equal)
_PH60_DUCK = "CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


def _minhash_pair_ctes(
    k: int, bands: int, n: int, seed: int, max_bucket: int
) -> str:
    """The portable-minhash pipeline as a CTE BLOCK ending in `pairs` —
    shared by the pairs oracle and the clustering oracles so the pair
    generation can never diverge between them. Corpus size comes from
    _NEARDUP_CORPUS_SQL's shared _NEARDUP_ID_LIMIT (no separate knob)."""
    from darkbo_spark.operators.dedup import _MERSENNE_P, _perm_constants

    consts = _perm_constants(k, seed)
    r = k // bands
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"m{b * r + j}" for j in range(r))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    # corpus = documents prefix + planted near-dups (see _NEARDUP_CORPUS_SQL)
    return f"""docs AS (SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'),
                     x -> x <> '') AS toks
              FROM {_NEARDUP_CORPUS_SQL} base),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(toks) - {n}, 0) + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' '))) AS shingle
  FROM docs
), hashed AS (
  SELECT doc_id, {_PH60_DUCK.format(s='shingle')} % {_MERSENNE_P} AS h FROM sh
), sig AS (
  SELECT doc_id, {mins}
  FROM hashed GROUP BY doc_id
), banded AS (
  {band_rows}
), sizes AS (SELECT band, bucket, COUNT(*) AS sz FROM banded GROUP BY band, bucket),
capped AS (
  SELECT banded.doc_id, banded.band, banded.bucket
  FROM banded JOIN sizes USING (band, bucket) WHERE sz <= {max_bucket}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


def _minhash_portable_oracle(
    k: int, bands: int, n: int, seed: int, max_bucket: int
) -> str:
    return f"""
WITH {_minhash_pair_ctes(k, bands, n, seed, max_bucket)}
SELECT id_a, id_b FROM pairs
ORDER BY id_a, id_b
"""


def _neardup_cluster_ctes(k: int, bands: int, n: int, seed: int, max_bucket: int) -> str:
    """pairs → transitive closure (RECURSIVE min-label fixpoint, the same
    pattern the CC oracle in kg/oracle_twin.py uses) → (doc_id, rep_id)
    over the FULL corpus (singletons map to themselves)."""
    return f"""{_minhash_pair_ctes(k, bands, n, seed, max_bucket)},
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node
),
comp AS (SELECT node, MIN(lbl) AS rep FROM reach GROUP BY node),
corpus AS (SELECT doc_id, text FROM {_NEARDUP_CORPUS_SQL} t),
clusters AS (
  SELECT c.doc_id, COALESCE(p.rep, c.doc_id) AS rep_id
  FROM corpus c LEFT JOIN comp p ON p.node = c.doc_id
)"""


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_neardup_cluster_ctes(16, 4, 3, 42, 500)}
SELECT doc_id, rep_id FROM clusters
ORDER BY doc_id
"""

_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_neardup_cluster_ctes(16, 4, 3, 42, 500)},
scored AS (
  SELECT doc_id, {ta.sql_quality_score('text')} AS q
  FROM {_NEARDUP_CORPUS_SQL} t
),
ranked AS (
  SELECT cl.rep_id, s.doc_id, s.q,
         ROW_NUMBER() OVER (PARTITION BY cl.rep_id
                            ORDER BY s.q DESC, s.doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY cl.rep_id) AS n_members
  FROM clusters cl JOIN scored s USING (doc_id)
)
SELECT rep_id, doc_id AS kept_doc_id, CAST(n_members AS BIGINT) AS n_members,
       q AS best_quality
FROM ranked WHERE rk = 1
ORDER BY rep_id
"""


def _neardup_clusters_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """neardup_clusters over the planted corpus, one handle per session:
    persist=True (the operator default) computes the banded signature frame
    once instead of 3× (bucket-size agg + both self-join sides, same
    canonical plan as minhash_lsh_pairs_x), and the session plan memo
    returns the SAME checkpointed components frame to both
    neardup_clusters_x and dedup_keep_best_x — the CC loop (an eager
    iterative computation, so the CacheManager cannot dedup it by plan)
    runs once per session instead of once per query. In-session reuse
    only: a fresh process recomputes everything from parquet."""
    from darkbo_spark.operators.dedup import neardup_clusters
    from darkbo_spark.queries.common import session_cached

    return session_cached(
        spark,
        ("neardup_clusters", sf_dir),
        lambda: neardup_clusters(
            _neardup_corpus(spark, sf_dir), "text", "doc_id",
            k=16, bands=4, hash_mode="portable",
        ),
    )


@_q("neardup_clusters_x", _CLUSTERS_ORACLE)
def neardup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup CLUSTERING driver-oracled end to end: the real
    banded-MinHash pair generation (portable hash mode) closed with the
    distributed star-contraction connected components, vs the identical
    pair CTEs + a recursive min-label fixpoint in DuckDB. Proves the step
    real dedup pipelines run after pair generation — one representative
    per document FAMILY, not per pair."""
    from darkbo_spark.operators.dedup import neardup_clusters

    return _neardup_clusters_shared(spark, sf_dir)


@_q("dedup_keep_best_x", _KEEP_BEST_ORACLE)
def dedup_keep_best_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention, fully oracled: per near-dup cluster
    keep the member with the HIGHEST quality score (ties → min doc_id) —
    the A5 first-wins dedup upgraded to 'keep the best page of the
    family', scored by the oracled quality_score operator."""
    from darkbo_spark.operators.dedup import dedup_keep_best, neardup_clusters

    docs = _neardup_corpus(spark, sf_dir)
    clusters = _neardup_clusters_shared(spark, sf_dir)
    scored = docs.select("doc_id", ta.quality_score(F.col("text")).alias("q"))
    return dedup_keep_best(scored, clusters, id_col="doc_id", score_col="q").select(
        "rep_id",
        "kept_doc_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("best_score").alias("best_quality"),
    )


def _simhash_portable_oracle(max_hamming: int, max_bucket: int, id_limit: int) -> str:
    nbits = 60
    n_bands = max_hamming + 1
    # Spark's last band absorbs the remainder bits (dedup.py mask -1); this
    # oracle masks every band to a FIXED width — the two agree only when
    # the bands divide nbits evenly, so refuse any other configuration
    # rather than silently generating a diverging oracle
    assert nbits % n_bands == 0, (
        f"portable simhash oracle requires (max_hamming+1) | {nbits}; "
        f"got max_hamming={max_hamming} → {n_bands} bands"
    )
    width = nbits // n_bands
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS b{i}"
        for i in range(nbits)
    )
    pack = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(nbits)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, sim, {i} AS band,"
        f" (sim >> {i * width}) & {(1 << width) - 1} AS bits FROM sims"
        for i in range(n_bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS token
  FROM documents WHERE doc_id < {id_limit}
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token <> '' GROUP BY doc_id, token
), h AS (
  SELECT doc_id, tf, {_PH60_DUCK.format(s='token')} AS h FROM tf
), agg AS (
  SELECT doc_id, {votes}
  FROM h GROUP BY doc_id
), sims AS (
  SELECT doc_id, CAST({pack} AS BIGINT) AS sim FROM agg
), banded AS (
  {band_rows}
), sizes AS (SELECT band, bits, COUNT(*) AS sz FROM banded GROUP BY band, bits),
capped AS (
  SELECT banded.doc_id, banded.sim, banded.band, banded.bits
  FROM banded JOIN sizes USING (band, bits) WHERE sz <= {max_bucket}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM capped a JOIN capped b
  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
ORDER BY id_a, id_b
"""


@_q("minhash_lsh_pairs_x", _minhash_portable_oracle(16, 4, 3, 42, 500))
def minhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _neardup_corpus(spark, sf_dir)
    # persist=True: same banded canonical plan as neardup_clusters_x /
    # dedup_keep_best_x — one in-session cache entry serves all three
    return minhash_lsh_pairs(docs, "text", "doc_id", k=16, bands=4, hash_mode="portable")


@_q("simhash_neardup_pairs_x", _simhash_portable_oracle(3, 500, 200))
def simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from darkbo_spark.operators.dedup import simhash_neardup_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # persist=True: the banded simhash frame feeds the bucket-size agg and
    # both self-join sides — unpersisted, the vote/pack pipeline runs 3×
    return simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=3, hash_mode="portable")


# ---------------------------------------------------------------------------
# Test-set decontamination (GPT-3-style n-gram filter): the benchmark set
# is derived from the documents table by a SQL expression (tokens 4..13 of
# every 25th doc → planted verbatim contamination), so DuckDB replays
# shingling + overlap join exactly. The join keys on RAW shingle strings —
# removal decisions tolerate no hash false positives.
# ---------------------------------------------------------------------------

_DECON_N = 8
_BENCH_FILTER = "doc_id % 25 = 0 AND doc_id < 500"

_DECON_ORACLE = f"""
WITH bench AS (
  SELECT doc_id AS bench_id,
         array_to_string(list_slice(list_filter(
           string_split_regex(lower(text), ' +'), x -> x <> ''), 4, 13), ' ') AS btext
  FROM documents WHERE {_BENCH_FILTER}
),
dtoks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), x -> x <> '') AS toks
  FROM documents
),
dsh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(toks) - {_DECON_N}, 0) + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + {_DECON_N}), ' '))) AS shingle
  FROM dtoks
),
btoks AS (
  SELECT bench_id, list_filter(string_split_regex(btext, ' +'), x -> x <> '') AS toks
  FROM bench
),
bsh AS (
  SELECT DISTINCT bench_id,
         unnest(list_transform(range(0, greatest(len(toks) - {_DECON_N}, 0) + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + {_DECON_N}), ' '))) AS shingle
  FROM btoks
)
SELECT d.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM dsh d JOIN bsh b USING (shingle)
GROUP BY d.doc_id, b.bench_id
ORDER BY doc_id, bench_id
"""


@_q("decontaminate_x", _DECON_ORACLE)
def decontaminate_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination driver-oracled: training docs sharing any 8-token
    shingle with a benchmark item (the benchmark is a SQL-visible slice
    of the corpus, so every source doc is planted contamination), with
    distinct-shared-shingle counts hash-verified both engines."""
    from darkbo_spark.operators.dedup import contamination_matches

    docs = _t(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.lower(F.col("text")), " +"), "")
    bench = docs.filter(F.expr(_BENCH_FILTER)).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(toks, 4, 10), " ").alias("text"),
    )
    return contamination_matches(
        docs, bench, n=_DECON_N, bench_id_col="bench_id"
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (training-data-mix construction):
# membership = md5-60(id:salt) % 1e6 < fraction·1e6 — reproducible across
# runs/partitionings/engines (rand()/sampleBy are partition-layout-
# dependent), so the SAMPLE ITSELF is driver-hash-verified.
# ---------------------------------------------------------------------------

_MIX_FRACTIONS = {"en": 0.5, "de": 0.2, "fr": 0.1}
_MIX_CASE = (
    "CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 200000 "
    "WHEN 'fr' THEN 100000 ELSE 50000 END"
)

_MIX_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS STRING) || ':mix1'), 1, 15)) AS BIGINT)
      % 1000000 < {_MIX_CASE}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Trained quality classifier (functions/quality_model.py): logistic
# regression over the oracled quality signals, weights trained at import
# time by a fixed-order deterministic procedure and inlined as repr()
# literals into BOTH engines — the logit is bit-identical, the label
# thresholds the unrounded logit. Planted junk rows (keyword stuffing,
# punctuation noise, too-short fragments — SQL-expressible transforms)
# guarantee both classes appear at every sf.
# ---------------------------------------------------------------------------

_QCLS_CORPUS_SQL = """
(SELECT doc_id, text FROM documents WHERE doc_id < 400
 UNION ALL
 SELECT doc_id + 200000, repeat('buy now ', 30) FROM documents WHERE doc_id < 10
 UNION ALL
 SELECT doc_id + 300000, repeat('!!! ??? ', 12) FROM documents WHERE doc_id < 10
 UNION ALL
 SELECT doc_id + 400000, 'ok' FROM documents WHERE doc_id < 10)
"""


def _qcls_oracle() -> str:
    from darkbo_spark.functions.quality_model import (
        sql_quality_label,
        sql_quality_logit,
    )

    return f"""
WITH corpus AS (SELECT doc_id, text FROM {_QCLS_CORPUS_SQL} c)
SELECT doc_id, round({sql_quality_logit('text')}, 6) AS quality_logit,
       CAST({sql_quality_label('text')} AS INTEGER) AS label
FROM corpus ORDER BY doc_id
"""


@_q("quality_classifier_x", _qcls_oracle())
def quality_classifier_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED quality filter driver-oracled: deterministic logistic
    weights over 6dp-rounded cross-engine features, logit folded in
    identical order in both engines, label = unrounded logit > 0. The
    planted junk rows must classify 0 and ordinary prose-like rows are
    scored by the same model a production filter would broadcast."""
    from darkbo_spark.functions.quality_model import quality_label, quality_logit

    docs = _t(spark, sf_dir, "documents")
    base10 = docs.filter(F.col("doc_id") < 10)
    corpus = (
        docs.filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
        .unionByName(
            base10.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.expr("repeat('buy now ', 30)").alias("text"),
            )
        )
        .unionByName(
            base10.select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.expr("repeat('!!! ??? ', 12)").alias("text"),
            )
        )
        .unionByName(
            base10.select(
                (F.col("doc_id") + 400000).alias("doc_id"), F.lit("ok").alias("text")
            )
        )
    )
    return corpus.select(
        "doc_id",
        F.round(quality_logit(F.col("text")), 6).alias("quality_logit"),
        quality_label(F.col("text")).cast("int").alias("label"),
    )


@_q("training_mix_sample_x", _MIX_ORACLE)
def training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mix sampler hash-oracled: per-language fractions (en 50%,
    de 20%, fr 10%, rest 5%) drawn deterministically by id hash — DuckDB
    re-derives the EXACT member set, proving reproducibility, not just
    plausible proportions."""
    from darkbo_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", _MIX_FRACTIONS, salt="mix1", default_fraction=0.05
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# SemDeDup — embedding-space near-dup removal (operators/semdedup.py):
# fixed seeded codebook partitions the space, pairwise cosine within each
# cell, keep-lowest-id retention. The codebook inlines into the oracle as
# literals (repr round-trips doubles), so DuckDB replays assignment
# (9dp-rounded dots, first-index argmax), the in-cell pair scan, and the
# retention rule bit-for-bit.
# ---------------------------------------------------------------------------

from darkbo_spark.operators.semdedup import fixed_codebook as _sem_codebook  # noqa: E402

_SEM_CELLS = 8
_SEM_TAU = 0.4
_SEM_LIMIT = 300
_SEM_CB = _sem_codebook(64, _SEM_CELLS, seed=42)

_SEM_CB_SQL = (
    "[" + ", ".join("[" + ", ".join(repr(x) for x in row) + "]" for row in _SEM_CB) + "]"
)

_SEMDEDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < {_SEM_LIMIT}
),
cells AS (
  SELECT vec_id, v,
         CAST(list_position(dots, list_aggregate(dots, 'max')) - 1 AS INTEGER) AS cell
  FROM (
    SELECT vec_id, v,
           list_transform({_SEM_CB_SQL}::DOUBLE[][],
                          c -> round(list_dot_product(v, c), 9)) AS dots
    FROM e
  )
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
              6) >= {_SEM_TAU}
)
SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
"""


@_q("semantic_dedup_x", _SEMDEDUP_ORACLE)
def semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end under the driver hash: cell assignment
    (tie-broken argmax), bounded in-cell pair scan, keep-lowest-id
    retention — the paraphrase-dedup semantics MinHash can't see."""
    from darkbo_spark.operators.semdedup import semantic_dedup

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _SEM_LIMIT)
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    return semantic_dedup(emb, _SEM_CB, min_cosine=_SEM_TAU)
