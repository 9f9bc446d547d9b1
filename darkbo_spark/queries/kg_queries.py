"""Knowledge-graph pipeline queries: raw triple extraction and entity
linking over synthetic Common-Crawl pages (rows-only), fuzzy/embedding
link-candidate generation, and the end-to-end driver-oracled twins whose
page text is a SQL expression DuckDB replays clean -> segment -> extract
-> link (kg/oracle_twin.py).

Part of the driver-contract query corpus (see darkbo_spark/entry_queries.py
for the registry, driver-window ordering, and the shared float discipline:
money aggregates sum in DECIMAL, short array folds round to 6 dp on both
engines, every computed column is aliased identically in Spark and SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.queries.common import _q, _t


@_q("fuzzy_link_candidates")
def fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from darkbo_spark.kg.link import fuzzy_candidates
    from darkbo_spark.kg.pages import entity_dictionary_df

    surfaces = spark.createDataFrame(
        pd.DataFrame(
            {"surface": ["acme systems incorporated", "global holdings", "the quantum labs"]}
        )
    )
    return fuzzy_candidates(surfaces, entity_dictionary_df(spark), min_jaccard=0.3)

from darkbo_spark.kg.oracle_twin import embed_candidates_oracle_sql  # noqa: E402


@_q("embed_link_candidates_x", embed_candidates_oracle_sql(0.3, 6, 42))
def embed_link_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embed_candidates driver-oracled end-to-end: real Arrow encoder +
    sign-LSH bucketing (the seeded hyperplanes inline into the oracle as
    literals, so DuckDB replays the identical buckets) + in-bucket cosine
    argmax, against the SQL-replayable twin dictionary."""
    from darkbo_spark.kg.link import embed_candidates
    from darkbo_spark.kg.oracle_twin import twin_entity_dict, twin_surfaces

    return embed_candidates(
        twin_surfaces(spark), twin_entity_dict(spark), min_cosine=0.3
    )


@_q("embed_link_candidates")  # rows-only: generator agreement in test_link.py
def embed_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M3 embedding leg of fuzzy candidate generation: LSH-bucketed
    cosine over A7 alias embeddings (kg/link.embed_candidates)."""
    import pandas as pd

    from darkbo_spark.kg.link import embed_candidates
    from darkbo_spark.kg.pages import entity_dictionary_df

    surfaces = spark.createDataFrame(
        pd.DataFrame(
            {"surface": ["the acme systems", "stellar labs", "no such entity here"]}
        )
    )
    return embed_candidates(surfaces, entity_dictionary_df(spark), min_cosine=0.7)


# the same fuzzy-candidate operator, oracled: the dictionary is the `part`
# table (alias = p_name, eid = p_partkey) so DuckDB can replay it exactly
_FUZZY_SURFACES = ["the small bolt", "red widget deluxe", "warm gear box"]

_FUZZY_ORACLE = f"""
WITH surf_raw AS (SELECT unnest({_FUZZY_SURFACES!r}) AS surface),
surf AS (
  SELECT DISTINCT regexp_replace(lower(trim(surface)), '^the ', '') AS s_norm FROM surf_raw
),
s_tok AS (
  SELECT DISTINCT s_norm, len(string_split(s_norm, ' ')) AS s_size,
         unnest(string_split(s_norm, ' ')) AS token
  FROM surf
),
dic AS (
  SELECT DISTINCT regexp_replace(lower(trim(p_name)), '^the ', '') AS alias_norm,
         p_partkey AS eid
  FROM part
),
d_tok AS (
  SELECT DISTINCT alias_norm, eid, len(string_split(alias_norm, ' ')) AS d_size,
         unnest(string_split(alias_norm, ' ')) AS token
  FROM dic
),
inter AS (
  SELECT s_norm, s_size, alias_norm, eid, d_size, COUNT(*) AS overlap
  FROM s_tok JOIN d_tok USING (token)
  GROUP BY s_norm, s_size, alias_norm, eid, d_size
),
scored AS (
  SELECT s_norm, eid, alias_norm,
         overlap * 1.0 / (s_size + d_size - overlap) AS jaccard
  FROM inter
  WHERE overlap * 1.0 / (s_size + d_size - overlap) >= 0.3
)
SELECT s_norm, eid, alias_norm, ROUND(jaccard, 6) AS jaccard
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY s_norm ORDER BY jaccard DESC, eid ASC, alias_norm ASC
  ) AS rk
  FROM scored
) WHERE rk = 1
"""


@_q("fuzzy_link_parts", _FUZZY_ORACLE)
def fuzzy_link_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from darkbo_spark.kg.link import fuzzy_candidates

    surfaces = spark.createDataFrame(pd.DataFrame({"surface": _FUZZY_SURFACES}))
    dic = _t(spark, sf_dir, "part").select(
        F.col("p_name").alias("alias"), F.col("p_partkey").alias("eid")
    )
    out = fuzzy_candidates(surfaces, dic, min_jaccard=0.3)
    return out.select("s_norm", "eid", "alias_norm", F.round("jaccard", 6).alias("jaccard"))

# ---------------------------------------------------------------------------
# KG pipeline on the synthetic Common-Crawl pages (rows-only — the full
# golden-parity gate is tests/test_kg_pipeline.py)
# ---------------------------------------------------------------------------

@_q("kg_raw_triples")
def kg_raw_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from darkbo_spark.kg.extract import extract_docs
    from darkbo_spark.kg.pages import synth_pages
    from darkbo_spark.kg.triples import extract_raw_triples, segment_sentences

    pages = synth_pages(spark, 200, seed=42)
    return extract_raw_triples(segment_sentences(extract_docs(pages)))


@_q("kg_linked_entities")
def kg_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from darkbo_spark.kg.extract import extract_docs
    from darkbo_spark.kg.link import link_entities
    from darkbo_spark.kg.pages import entity_dictionary_df, synth_pages
    from darkbo_spark.kg.triples import extract_raw_triples, segment_sentences

    pages = synth_pages(spark, 200, seed=42)
    raw = extract_raw_triples(segment_sentences(extract_docs(pages)))
    return link_entities(raw, entity_dictionary_df(spark)).select(
        "triple_id", "subj", "pred", "obj", "subj_eid", "obj_eid"
    )


# ---------------------------------------------------------------------------
# Driver-oracled KG twins (kg/oracle_twin.py): the page text is built by a
# dialect-neutral SQL expression over documents.doc_id, the SPARK side runs
# the REAL pipeline (Arrow clean_text UDF → segmenter → rule extractor →
# broadcast link), and the DuckDB oracle independently replays clean →
# segment → extract → link in pure SQL. The hash gate proves the pipeline's
# SEMANTICS end to end — not just row counts.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import (  # noqa: E402
    canonicalize_oracle_sql,
    est_oracle_sql,
    linked_oracle_sql,
)


def _twin_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from darkbo_spark.kg.extract import extract_docs
    from darkbo_spark.kg.oracle_twin import twin_pages
    from darkbo_spark.kg.triples import extract_raw_triples, segment_sentences

    pages = twin_pages(_t(spark, sf_dir, "documents"))
    # NOT persisted: the raw E→S→T chain has exactly two consumers —
    # kg_triples_x (one reference) and the _kg_linked_twin chain, which
    # persists ITS output and so runs this once during its own fill.
    # Persisting here too was measured to merely move ~1 s of cache-fill
    # cost onto kg_triples_x (the first toucher) for no family-net gain.
    return extract_raw_triples(segment_sentences(extract_docs(pages)))


@_q("kg_triples_x", est_oracle_sql(240))
def kg_triples_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from darkbo_spark.kg.oracle_twin import triple_sha_col

    return _twin_raw(spark, sf_dir).select(
        "url",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "subj",
        "pred",
        "obj",
        triple_sha_col().alias("triple_sha"),
    )


@_q("kg_canonicalize_x", canonicalize_oracle_sql(60))
def kg_canonicalize_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage C driver-proven on the DISTRIBUTED path: large-star/small-star
    iterative DataFrame joins (operators/components.py) over an engineered
    alias-chaining dictionary, vs a DuckDB recursive-CTE fixpoint oracle."""
    from darkbo_spark.kg.canonicalize import canonicalize_entities
    from darkbo_spark.kg.oracle_twin import twin_alias_dict

    return canonicalize_entities(twin_alias_dict(spark), mode="distributed")


@_q("kg_canonicalize_driver_x", canonicalize_oracle_sql(60))
def kg_canonicalize_driver_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same oracle, driver union-find path — both canonicalization modes
    produce the identical mapping under the driver's hash gate, not just in
    pytest's equality assertion."""
    from darkbo_spark.kg.canonicalize import canonicalize_entities
    from darkbo_spark.kg.oracle_twin import twin_alias_dict

    return canonicalize_entities(twin_alias_dict(spark), mode="driver")


def _kg_linked_twin(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    from darkbo_spark.kg.link import link_entities
    from darkbo_spark.kg.oracle_twin import twin_entity_dict
    from darkbo_spark.queries.common import session_cached

    from pyspark import StorageLevel

    def build() -> DataFrame:
        linked = link_entities(
            _twin_raw(spark, sf_dir), twin_entity_dict(spark), strategy=strategy
        )
        # persisted like _twin_raw: consumers (cooccurrence, degrees,
        # pagerank, two-hop, incremental) reference this from 2+ branches
        return linked.select(
            "url",
            F.col("sent_idx").cast("bigint").alias("sent_idx"),
            "subj",
            "pred",
            "obj",
            "subj_eid",
            "obj_eid",
        ).persist(StorageLevel.MEMORY_AND_DISK)

    # plan-handle cache: ~10 queries build this identical chain; the
    # CacheManager already dedups the DATA by canonical plan, but each
    # rebuild still pays ~0.5 s of py4j expression construction — return
    # the same lazy handle instead (per session, per strategy)
    return session_cached(spark, ("kg_linked_twin", sf_dir, strategy), build)


@_q("kg_linked_x", linked_oracle_sql(240))
def kg_linked_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg_linked_twin(spark, sf_dir, "broadcast")


@_q("kg_linked_salted_x", linked_oracle_sql(240))
def kg_linked_salted_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SALTED skew-defeating link strategy against the SAME oracle —
    broadcast ≡ salted ≡ DuckDB replay is now a driver hash fact, not
    just the pytest equality assertion."""
    return _kg_linked_twin(spark, sf_dir, "salted")


# ---------------------------------------------------------------------------
# Graph analytics over the constructed KG (beyond-reference): entity
# importance via degree centrality and fixed-iteration PageRank, both
# hash-oracled end to end THROUGH the pipeline — the edges come from the
# real clean → segment → extract → link run over the SQL-constructed twin
# corpus, and DuckDB independently replays pipeline + analytics.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import (  # noqa: E402
    degrees_oracle_sql,
    pagerank_oracle_sql,
)


def _twin_entity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    linked = _kg_linked_twin(spark, sf_dir, "broadcast")
    return (
        linked.filter(F.col("subj_eid").isNotNull() & F.col("obj_eid").isNotNull())
        .select(F.col("subj_eid").alias("src"), F.col("obj_eid").alias("dst"))
    )


@_q("kg_entity_degrees_x", degrees_oracle_sql(240))
def kg_entity_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In/out degree per linked entity — the cheap importance signal and
    the skew probe (head entities by in-degree are the keys the link join
    salts)."""
    from darkbo_spark.operators.graph import degree_centrality

    return degree_centrality(_twin_entity_edges(spark, sf_dir)).select(
        "node",
        F.col("out_deg").cast("bigint").alias("out_deg"),
        F.col("in_deg").cast("bigint").alias("in_deg"),
    )


@_q("kg_entity_pagerank_x", pagerank_oracle_sql(240, iters=5, damping=0.85))
def kg_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the linked entity graph (iterative
    DataFrame joins, one shuffle per round, DECIMAL-exact contribution
    sums) — the full chain pipeline→graph→rank is one driver hash."""
    from darkbo_spark.operators.graph import pagerank

    return pagerank(_twin_entity_edges(spark, sf_dir), damping=0.85, iters=5)


from darkbo_spark.kg.oracle_twin import two_hop_oracle_sql  # noqa: E402


@_q("kg_two_hop_neighbors_x", two_hop_oracle_sql(240))
def kg_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop out-neighborhood size per entity: one self-join on the edge
    set + an anti-join dropping direct neighbors and self — the context-
    subgraph traversal a KG/RAG consumer runs per entity. Scale shape:
    both joins key on entity ids (shuffle or broadcast by dict size),
    never a cartesian."""
    e = _twin_entity_edges(spark, sf_dir).distinct()
    a, b = e.alias("a"), e.alias("b")
    hop2 = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .filter(F.col("b.dst") != F.col("a.src"))
        .select(F.col("a.src").alias("node"), F.col("b.dst").alias("nbr2"))
        .distinct()
    )
    direct = e.select(F.col("src").alias("node"), F.col("dst").alias("nbr2"))
    return (
        hop2.join(direct, ["node", "nbr2"], "left_anti")
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_two_hop"))
    )


# ---------------------------------------------------------------------------
# Incremental KG maintenance (kg/incremental.py), driver-proven equal to a
# full rebuild: a stale KG built from pages where every 3rd document
# carries DIFFERENT (shifted-id) content is repaired by re-running only
# those pages through E→S→T→L and upserting by url — and the result must
# hash-match the SAME full-corpus oracle as kg_linked_x.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import raw_text_sql, twin_pages  # noqa: E402


@_q("kg_incremental_x", linked_oracle_sql(240))
def kg_incremental_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale build + delta upsert ≡ full rebuild ≡ DuckDB replay. The
    stale corpus is REAL wrong content (each doc_id%3==0 page rendered
    from doc_id+101's template — different entities, different triples),
    so the upsert exercises genuine replacement, not append."""
    from darkbo_spark.kg.incremental import extract_and_link, upsert_triples_by_url
    from darkbo_spark.kg.oracle_twin import twin_entity_dict

    docs = _t(spark, sf_dir, "documents")
    stale_text = (
        f"(CASE WHEN doc_id % 3 = 0 THEN {raw_text_sql('(doc_id + 101)')} "
        f"ELSE {raw_text_sql('doc_id')} END)"
    )
    stale_pages = docs.filter(F.col("doc_id") < 240).select(
        F.concat(F.lit("https://twin.test/p/"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.expr(stale_text).alias("text"),
    )
    delta_pages = twin_pages(docs.filter(F.col("doc_id") % 3 == 0))
    dictionary = twin_entity_dict(spark)
    stale_kg = extract_and_link(stale_pages, dictionary)
    fresh = extract_and_link(delta_pages, dictionary)
    return upsert_triples_by_url(stale_kg, fresh, delta_pages.select("url"))


# ---------------------------------------------------------------------------
# Entity co-occurrence PMI (operators/graph.entity_cooccurrence): the
# untyped edge-enrichment layer next to the typed triple edges — two
# entities repeatedly mentioned on the same pages are associated even when
# no extraction pattern fires. Hash-oracled THROUGH the pipeline: the
# mention sets come from the real clean → segment → extract → link run,
# and DuckDB replays pipeline + pair counting + the PMI float expression.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import cooccurrence_oracle_sql  # noqa: E402


@_q("kg_entity_cooccurrence_x", cooccurrence_oracle_sql(240))
def kg_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level co-occurrence with PMI weighting over linked
    mentions (both triple slots). Scale shape: per-doc entity sets are
    mention-bounded (tens), so the url-key self-join is O(k²) per doc and
    never cross-doc; marginals and N are dictionary-bounded/scalar and
    broadcast into one codegen projection."""
    from darkbo_spark.operators.graph import entity_cooccurrence

    linked = _kg_linked_twin(spark, sf_dir, "broadcast")
    mentions = (
        linked.filter(F.col("subj_eid").isNotNull())
        .select("url", F.col("subj_eid").alias("eid"))
        .unionAll(
            linked.filter(F.col("obj_eid").isNotNull())
            .select("url", F.col("obj_eid").alias("eid"))
        )
    )
    return entity_cooccurrence(mentions, doc_col="url", ent_col="eid")


# ---------------------------------------------------------------------------
# Temporal fact resolution + functional-conflict detection (kg/temporal.py):
# the fusion layer — crawl-dated twin pages (doc_id % 7 days of drift, so
# the same entity slot is asserted at several dates with several values)
# run the REAL pipeline, then latest-wins resolution / violation inventory,
# vs a DuckDB window/aggregate replay of the whole chain.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import (  # noqa: E402
    conflicts_oracle_sql,
    facts_oracle_sql,
)


def _dated_linked_twin(
    spark: SparkSession,
    sf_dir: str,
    dictionary: DataFrame | None = None,
    dict_key: str | None = None,
) -> DataFrame:
    """Linked triples carrying each page's crawl date: twin pages with
    warc_ts = 2024-01-01 + (doc_id % 7) days through E→S→T→L, the ts
    joined back on the page key (url) — at scale a co-partitioned join
    against the (url, ts) side of the same scan, here a broadcast."""
    from darkbo_spark.kg.incremental import extract_and_link
    from darkbo_spark.kg.oracle_twin import raw_text_sql, twin_entity_dict
    from darkbo_spark.queries.common import session_cached

    from pyspark import StorageLevel

    def build() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        pages = docs.filter(F.col("doc_id") < 240).select(
            F.concat(
                F.lit("https://twin.test/p/"), F.col("doc_id").cast("string")
            ).alias("url"),
            F.date_add(
                F.to_date(F.lit("2024-01-01")), (F.col("doc_id") % 7).cast("int")
            ).alias("warc_ts"),
            F.lit("en").alias("lang"),
            F.expr(raw_text_sql("doc_id")).alias("text"),
        )
        linked = extract_and_link(
            pages, dictionary if dictionary is not None else twin_entity_dict(spark)
        )
        # PERSISTED by canonical plan: a dozen kg_* queries run this same
        # E→S→T→L chain (UDF extraction over the twin pages), and several
        # reference it from 2-3 plan branches (profiles:
        # degrees+types+facts; dict-growth: mine+before; nil-both:
        # subj∪obj) — without the cache each branch re-runs the extraction
        # UDFs. The UDFs are module-level singletons, so the canonical plan
        # — and therefore the cache entry — is shared across queries in a
        # session; distinct dictionaries get their own (dictionary-sized)
        # entries, LRU-evicted under pressure.
        return linked.join(
            F.broadcast(pages.select("url", "warc_ts")), "url"
        ).persist(StorageLevel.MEMORY_AND_DISK)

    # plan-handle cache for the default dictionary and for any custom
    # dictionary whose caller declares a stable identity via `dict_key`
    # (the three NIL-mining queries share one 'holey' chain; the grown
    # dictionary is unique to dict_growth and passes no key): same
    # rationale as _kg_linked_twin. A `dict_key` must name ONE dictionary
    # content for the session's life.
    if dictionary is not None and dict_key is None:
        return build()
    return session_cached(spark, ("dated_linked_twin", sf_dir, dict_key), build)


@_q("kg_facts_asof_x", facts_oracle_sql(240, as_of="2024-01-05"))
def kg_facts_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-slot-aware fact state as of 2024-01-05 (pages dated
    after the cutoff must NOT contribute): functional slots collapse
    latest-wins, multi-valued slots (acquired, launched, works_at, …)
    keep their FULL value set with validity envelopes — one envelope
    aggregate on the fact key plus one window over the collapsed fact
    table, deterministic tie order."""
    from darkbo_spark.kg.temporal import resolve_facts

    return resolve_facts(_dated_linked_twin(spark, sf_dir), as_of="2024-01-05")


@_q("kg_fact_conflicts_x", conflicts_oracle_sql(240))
def kg_fact_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violations across the whole crawl window:
    the curation worklist (slots asserting >1 value), one map-side-
    combinable aggregate on the same fact key."""
    from darkbo_spark.kg.temporal import detect_conflicts

    return detect_conflicts(_dated_linked_twin(spark, sf_dir))


# ---------------------------------------------------------------------------
# Ontology + provenance layers of fusion: majority-vote entity typing and
# per-fact support/confidence, both over the same crawl-dated linked twin
# and both replayed end to end in DuckDB.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import (  # noqa: E402
    entity_types_oracle_sql,
    fact_support_oracle_sql,
)


@_q("kg_entity_types_x", entity_types_oracle_sql(240))
def kg_entity_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal is_a type per entity (ties lexicographic) — the ontology
    assignment every downstream consumer filters on."""
    from darkbo_spark.kg.temporal import entity_types

    return entity_types(_dated_linked_twin(spark, sf_dir))


@_q("kg_fact_support_x", fact_support_oracle_sql(240))
def kg_fact_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-page support and 6dp evidence share per (slot, value) —
    the provenance strength the conflict worklist ranks by."""
    from darkbo_spark.kg.temporal import fact_support

    return fact_support(_dated_linked_twin(spark, sf_dir))


from darkbo_spark.kg.oracle_twin import entity_profile_oracle_sql  # noqa: E402


@_q("kg_entity_profiles_x", entity_profile_oracle_sql(240))
def kg_entity_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the entity page: modal type + distinct
    fact count + degrees over the union universe, every constituent
    aggregate independently oracled and the composition under one more
    driver hash."""
    from darkbo_spark.kg.temporal import entity_profiles

    return entity_profiles(_dated_linked_twin(spark, sf_dir))


# ---------------------------------------------------------------------------
# Fact validity envelopes + NIL mining: the temporal-scoping table and the
# dictionary-growth worklist — the two remaining outputs a fusion layer
# publishes, both replayed in DuckDB over the same crawl-dated twin.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import (  # noqa: E402
    fact_history_oracle_sql,
    nil_candidates_oracle_sql,
)


@_q("kg_fact_history_x", fact_history_oracle_sql(240))
def kg_fact_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-seen envelope + mention count per (slot, value)."""
    from darkbo_spark.kg.temporal import fact_history

    return fact_history(_dated_linked_twin(spark, sf_dir))


def _holey_dict(spark: SparkSession) -> DataFrame:
    """The deliberately-incomplete twin dictionary (every alias normalizing
    to 'r…' withheld) shared by the three NIL-mining queries."""
    from darkbo_spark.kg.link import _norm
    from darkbo_spark.kg.oracle_twin import twin_entity_dict

    return twin_entity_dict(spark).filter(~_norm(F.col("alias")).startswith("r"))


def _holey_dated_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dated linked chain against the holey dictionary, one handle per
    session (dict_key='holey_v1') — kg_nil_candidates_x, kg_dict_growth_x
    and kg_nil_candidates_both_x all link the identical chain."""
    return _dated_linked_twin(
        spark, sf_dir, dictionary=_holey_dict(spark), dict_key="holey_v1"
    )


@_q("kg_nil_candidates_x", nil_candidates_oracle_sql(240, min_mentions=2))
def kg_nil_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurring unlinked subject surfaces — the entities the dictionary
    is missing, normalized exactly as the linker would match them. The
    twin dictionary deliberately WITHHOLDS every alias normalizing to
    'r…' (mirrored in the oracle's join predicate), so the companies the
    corpus keeps asserting under those names are genuine dictionary
    misses — the exact situation NIL mining exists for."""
    from darkbo_spark.kg.temporal import nil_candidates

    return nil_candidates(_holey_dated_twin(spark, sf_dir), min_mentions=2)


# ---------------------------------------------------------------------------
# Dictionary-growth round trip (r6 ask #8): NIL mining exists to GROW the
# dictionary — this query closes the loop: link against the holey
# dictionary, mine recurring unlinked surfaces, augment the dictionary
# (kg/link.augment_dictionary), RELINK the same corpus, and report each
# previously-unlinked surface's observed post-growth status. The oracle
# predicts that status from the mining rule alone, so the hash fails if
# the miner's normalization ever drifts from the linker's.
# ---------------------------------------------------------------------------

from darkbo_spark.kg.oracle_twin import dict_growth_oracle_sql  # noqa: E402


@_q("kg_dict_growth_x", dict_growth_oracle_sql(240, min_mentions=2))
def kg_dict_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine → augment → relink on the same corpus: every recurring
    unlinked surface links after growth (linked_after=1), singletons
    stay NIL — observed from a real second link pass, not asserted."""
    from darkbo_spark.kg.link import _norm, augment_dictionary
    from darkbo_spark.kg.temporal import nil_candidates

    holey = _holey_dict(spark)
    linked1 = _holey_dated_twin(spark, sf_dir)
    grown = augment_dictionary(holey, nil_candidates(linked1, min_mentions=2))
    linked2 = _dated_linked_twin(spark, sf_dir, dictionary=grown)
    before = (
        linked1.filter(F.col("subj_eid").isNull())
        .groupBy(_norm(F.col("subj")).alias("surface_norm"))
        .agg(F.count("*").cast("bigint").alias("n_mentions"))
    )
    after = (
        linked2.select(_norm(F.col("subj")).alias("surface_norm"), "subj_eid")
        .groupBy("surface_norm")
        .agg(
            F.max(F.col("subj_eid").isNotNull().cast("int"))
            .cast("bigint")
            .alias("linked_after")
        )
    )
    return before.join(after, "surface_norm")


from darkbo_spark.kg.oracle_twin import nil_candidates_both_oracle_sql  # noqa: E402


@_q("kg_nil_candidates_both_x", nil_candidates_both_oracle_sql(240, min_mentions=2))
def kg_nil_candidates_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-position NIL mining: subject surfaces ∪ object surfaces of
    entity-valued predicates (founded_by/acquired/... — literal slots
    like founded_in years and is_a type strings never pollute the
    worklist), against the same holey dictionary as kg_nil_candidates_x."""
    from darkbo_spark.kg.temporal import nil_candidates

    return nil_candidates(
        _holey_dated_twin(spark, sf_dir), min_mentions=2, side="both"
    )


from darkbo_spark.kg.oracle_twin import fact_changes_oracle_sql  # noqa: E402


@_q("kg_fact_changes_x", fact_changes_oracle_sql(240, "2024-01-03", "2024-01-06"))
def kg_fact_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-cycle diff of the published fact state ('what did this
    week's crawl change?'): added/removed rows between the 2024-01-03
    and 2024-01-06 as-of states — a functional slot's value swap shows
    as one added + one removed. The Spark side computes it in ONE pass
    (conditional envelope + two windows over the collapsed fact table);
    the oracle independently diffs two full states."""
    from darkbo_spark.kg.temporal import fact_changes

    return fact_changes(
        _dated_linked_twin(spark, sf_dir), "2024-01-03", "2024-01-06"
    )


# ---------------------------------------------------------------------------
# Stored fact-state serving: the fusion layer's read convention as a
# driver-hashed query. The resolved fact state publishes ONCE partitioned
# by entity-hash bucket (the kg_facts distributed write shape), and an
# entity probe set serves from ONLY its buckets — PartitionFilters prune
# the scan before the entity filter runs, the same "materialize once,
# serve many" split as the search/CDX indexes. Probe eids and buckets are
# computed DRIVER-SIDE (sha256 entity ids are dialect-neutral; buckets
# use the portable md5-60 hash with a python twin), the way a fact-serving
# API would.
# ---------------------------------------------------------------------------

_FACTS_BUCKETS = 8
_FACTS_PROBE_CANONICALS = ("Acme Systems", "Quantum Labs", "Berlin")


def _entity_eid_py(canonical: str) -> str:
    import hashlib

    return hashlib.sha256(f"entity:{canonical}".encode()).hexdigest()[:32]


def _facts_bucket_py(eid: str) -> int:
    import hashlib

    return int(hashlib.md5(eid.encode()).hexdigest()[:15], 16) % _FACTS_BUCKETS


def _facts_stored_oracle() -> str:
    from darkbo_spark.kg.oracle_twin import facts_oracle_sql

    probes = ", ".join(
        f"substr(sha256('entity:' || '{c}'), 1, 32)"
        for c in _FACTS_PROBE_CANONICALS
    )
    return (
        f"SELECT * FROM ({facts_oracle_sql(240, as_of='2024-01-05').rstrip()})"
        f" WHERE subj_eid IN ({probes})"
    )


@_q("kg_facts_stored_lookup_x", _facts_stored_oracle())
def kg_facts_stored_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity fact lookup against the PUBLISHED fact state: the probe
    set's buckets prune the partitioned scan (PartitionFilters), then the
    eid filter selects within them — a lookup touches ~|probes|/8 of the
    state and never recomputes resolution. Same rows as resolving inline
    and filtering (the oracle's formulation)."""
    import pandas as pd

    from darkbo_spark.operators.dedup import portable_hash60
    from darkbo_spark.queries.common import _stored_table
    from darkbo_spark.kg.temporal import resolve_facts

    table = _stored_table(
        sf_dir,
        "kg_facts_state",
        "documents",
        lambda: resolve_facts(
            _dated_linked_twin(spark, sf_dir), as_of="2024-01-05"
        )
        .withColumn(
            "fact_bucket",
            F.pmod(
                portable_hash60(F.col("subj_eid")), F.lit(_FACTS_BUCKETS)
            ).cast("int"),
        )
        .repartition("fact_bucket"),
        partition_by=["fact_bucket"],
        tag=f"factsb{_FACTS_BUCKETS}_v1",
    )
    probes = [_entity_eid_py(c) for c in _FACTS_PROBE_CANONICALS]
    need = sorted({_facts_bucket_py(e) for e in probes})
    probe_df = spark.createDataFrame(pd.DataFrame({"subj_eid": probes}))
    return (
        table.read(spark)
        .filter(F.col("fact_bucket").isin(need))
        .join(F.broadcast(probe_df), "subj_eid")
        .select("subj_eid", "pred", "obj", "fact_date", "first_seen", "n_mentions")
    )


@_q("kg_facts_incremental_x", facts_oracle_sql(240, as_of="2024-01-07"))
def kg_facts_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL fact-state maintenance, driver-proven equal to a full
    re-resolution: the stored state keeps mergeable envelopes (first/last
    assertion ts + mention count per fact key), a new crawl cycle's delta
    folds in with one aggregate over the union — no re-read of
    historical mentions — and winner selection runs over the merged
    state (kg/temporal.fact_envelopes / merge_fact_envelopes /
    resolve_from_envelopes, the SAME second phase resolve_facts uses).
    Here the initial state covers pages crawled ≤ 2024-01-03, the delta
    is the 01-04..01-07 cycle, and the merged resolution hash-matches
    the full as-of-2024-01-07 oracle."""
    from darkbo_spark.kg.temporal import (
        fact_envelopes,
        merge_fact_envelopes,
        resolve_from_envelopes,
    )

    linked = _dated_linked_twin(spark, sf_dir)
    cut = F.to_date(F.col("warc_ts")) <= F.lit("2024-01-03").cast("date")
    state = fact_envelopes(linked.filter(cut))
    delta = fact_envelopes(linked.filter(~cut))
    return resolve_from_envelopes(merge_fact_envelopes(state, delta))
