"""Shared registry + helpers for the driver-contract query corpus.

`_q(name, oracle)` registers a (Spark query, DuckDB oracle SQL) pair into
QUERIES / ORACLE_SQL; family modules (star, retrieval, textops,
dedup_queries, events_queries, media_embed, kg_queries) register at import
time and darkbo_spark/entry_queries.py fixes the final ORDER — the driver
samples the first 50 registered entries, so ordering is an interface, not
an accident of import sequence.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# CONTENT tables below this size are spread across the cores with one
# cheap round-robin exchange: a small parquet file is typically ONE row
# group, so its scan — and every narrow op chained on it (tokenize,
# shingle, regex, vector math) — otherwise runs as a single task
# regardless of cluster size (a row group is unsplittable). Large tables
# split naturally at row-group boundaries and are never shuffled by this.
# Only the per-row-compute-heavy tables are spread: for the relational
# tables (dims/facts) the first real operator is a join or aggregate
# whose exchange provides the parallelism anyway, and an extra
# round-robin ahead of a BroadcastExchange is pure overhead (measured:
# q3/q5 +0.5 s each with an unconditional spread).
_SMALL_TABLE_BYTES = int(
    __import__("os").environ.get("DARKBO_SMALL_TABLE_BYTES", str(256 << 20))
)
_SPREAD_TABLES = frozenset(
    __import__("os")
    .environ.get("DARKBO_SPREAD_TABLES", "documents,embeddings")
    .split(",")
)


def _table_bytes(path: str) -> int:
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
    return _SMALL_TABLE_BYTES  # unknown layout: leave the scan alone


def session_cached(spark: SparkSession, key, build: Callable[[], object]):
    """`build()` once per (session, key); later calls return the same
    object. The cache lives in an attribute of the session object itself,
    so it dies with the session: a cached DataFrame references its session,
    which only forms a cycle the garbage collector frees once the session
    is dropped (a module-level WeakKeyDictionary would keep every session
    alive through its own values).

    Used for deterministic lazy plan handles: every `spark.read.parquet`
    or literal-array expression tree costs 0.1-0.5 s of py4j round-trips
    on the driver, and a bench/oracle session builds the same few dozen
    plans a few hundred times across the corpus. Callers own what they
    store (persisted frames stay persisted for the session's life); `key`
    must identify the built content — inputs are assumed static for the
    session."""
    cache = vars(spark).setdefault("_darkbo_session_cache", {})
    if key not in cache:
        cache[key] = build()
    return cache[key]


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = True) -> DataFrame:
    def build() -> DataFrame:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        try:
            small = (
                spread
                and name in _SPREAD_TABLES
                and _table_bytes(path) < _SMALL_TABLE_BYTES
            )
        except OSError:
            small = False
        if small:
            # deterministic round-robin (sort-before-repartition is on by
            # default, so retries reproduce the same layout); every query in
            # the corpus is partition-layout-invariant (driver-hash gated)
            df = df.repartition(spark.sparkContext.defaultParallelism)
        return df

    return session_cached(spark, ("_t", sf_dir, name, bool(spread)), build)


def _terms_df(spark: SparkSession, terms: list[str]) -> DataFrame:
    """Tiny literal term table via pandas/Arrow (createDataFrame on a plain
    list takes the RDD-pickle path and spins a python task)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"token": list(terms)}))


def _corpus_fp(sf_dir: str, table: str) -> str:
    """Corpus fingerprint for stored-index skip: sf_dir identity + each
    parquet file's (name, size, mtime) — a corpus replaced with preserved
    mtimes (cp -p, archive extract) still changes names or sizes, so a
    stale stored index can't be silently served across processes."""
    import hashlib
    import os

    def _stat(p: str) -> str:
        st = os.stat(p)
        return f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime}"

    path = f"{sf_dir}/{table}.parquet"
    parts = ""
    if os.path.isdir(path):
        parts = ",".join(
            _stat(os.path.join(path, f)) for f in sorted(os.listdir(path))
        )
    elif os.path.exists(path):
        parts = _stat(path)
    return hashlib.md5(f"{sf_dir}|{table}|{parts}".encode()).hexdigest()


def _stored_base() -> str:
    """Per-user stored-index base (no cross-user /tmp collisions)."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"darkbo_spark_indexes_u{os.getuid()}"
    )


def drop_stored_table(name: str) -> None:
    """Remove a published stored index and its lock — the bench harness
    uses this to time a provably COLD build separately from warm serves."""
    import os
    import shutil

    base = _stored_base()
    shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    try:
        os.remove(os.path.join(base, f".{name}.lock"))
    except FileNotFoundError:
        pass


def _stored_table(
    sf_dir: str, name: str, source_table: str, build, partition_by=None, tag: str = ""
):
    """Publish-once plumbing for the stored-index queries: per-user tmp
    base (no cross-user collisions) and the publish held under a
    BuildLock with a double-checked fingerprint — concurrent driver /
    bench / pytest processes must never race two writers into the same
    v{seq} dir (the exact hazard SnapshotTable's own docs call out). A
    loser WAITS for the winner and then finds the fingerprint fresh."""
    import os
    import time

    from darkbo_spark.storage.snapshots import BuildLock, SnapshotTable

    base = _stored_base()
    table = SnapshotTable(base, name)
    # `tag` versions the STORED LAYOUT (schema/partitioning changes): a
    # layout change must republish even over an unchanged corpus, or a
    # stale pre-change version would be served to new readers
    fp = _corpus_fp(sf_dir, source_table) + (f"|{tag}" if tag else "")

    def fresh() -> bool:
        return table.current_fingerprint() == fp

    if fresh():
        return table
    lock = BuildLock(base, name)
    with lock.hold(f"q-{os.getpid()}-{time.time()}", 120.0, "stored-index", ready=fresh):
        if not fresh():  # double-checked under the lock
            table.publish(build(), fp, partition_by=partition_by)
            table.expire(retain_last=3)
    return table
