"""Driver-oracleable twin of the KG E→S→T(→L) pipeline.

The production `kg_raw_triples` / `kg_linked_entities` queries run over
`kg.pages.synth_pages`, which the driver's DuckDB gate cannot see (pages
are generated in Python). This module closes that verification gap: the
page text is constructed by ONE dialect-neutral SQL expression (CASE
picks + `||` + chr — parses identically under Spark `F.expr` and DuckDB)
over the registered `documents.doc_id` column, so

* the Spark side feeds that text through the REAL pipeline — the Arrow
  clean_text UDF, the sentence segmenter, the rule-pattern extractor and
  the broadcast link join (`kg.extract` / `kg.triples` / `kg.link`), and
* the DuckDB oracle independently replays clean → segment → extract →
  link in pure SQL (regexp_replace chain, marker split, named-group
  regexp_extract, normalized-alias left joins),

and the driver hash-verifies the two end to end. The constructed text is
deliberately messy — runs of spaces, a tab, out-of-charset junk, 5-dot
ellipses, 5-dash runs, space-before-punct, `!!` punct pairs — so every
clean_text rule (reference invariant, api/document_processor.py:130-157)
is exercised, not just the happy path.

Cross-engine regex ground rules (probed value-for-value before landing):

* the corpus is pure ASCII, where Python `re` and RE2 agree on `\\w`/`\\s`
  (unicode vs ASCII classes is exactly why the PRODUCTION path keeps
  Python `re` inside the UDF — see reference_impl.py);
* RE2's default leftmost-first matching equals `re.search` for these
  patterns (verified: identical 760-triple output over 120 docs);
* `(?<=[.!?]) +` lookbehind (unsupported in RE2) is replayed as
  mark-then-split: replace `([.!?]) +` with `\\1`+chr(1), split on chr(1);
* ids are sha256-based (`functions.ids.sha256_id_col`) because uuid5
  needs sha1, which DuckDB lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.functions.ids import sha256_id_col
from darkbo_spark.reference_impl import TRIPLE_PATTERNS

# ---------------------------------------------------------------------------
# Vocabulary (smaller than kg.pages' — this is a verification corpus)
# ---------------------------------------------------------------------------

ADJ = ["Acme", "Quantum", "Stellar", "Vertex", "Nimbus", "Orion"]
NOUN = ["Systems", "Labs", "Dynamics", "Holdings"]
FIRST = ["Alice", "Robert", "Maria", "Wei", "Priya"]
LAST = ["Walker", "Chen", "Garcia", "Patel"]
CITY = ["Springfield", "Berlin", "Tokyo", "Toronto", "Oslo"]
KIND = ["technology company", "consulting firm", "research organization"]


def _pick(values: list[str], mod_expr: str) -> str:
    """CASE-pick — the only vocab indexing both dialects parse identically."""
    whens = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(values))
    return f"(CASE {mod_expr} {whens} END)"


def raw_text_sql(id_col: str = "doc_id") -> str:
    """Messy raw page text for row `id_col`, as a dialect-neutral SQL
    expression (valid under Spark F.expr AND DuckDB verbatim). Sentences
    cover 8 of the 12 triple patterns plus a pattern-free noise sentence;
    the junk tokens exercise every clean_text rule (module docstring)."""
    i = id_col
    comp = f"{_pick(ADJ, f'{i} % 6')} || ' ' || {_pick(NOUN, f'{i} % 4')}"
    comp2 = f"{_pick(ADJ, f'({i} + 3) % 6')} || ' ' || {_pick(NOUN, f'({i} + 1) % 4')}"
    person = f"{_pick(FIRST, f'{i} % 5')} || ' ' || {_pick(LAST, f'{i} % 4')}"
    city = _pick(CITY, f"{i} % 5")
    kind = _pick(KIND, f"{i} % 3")
    year = f"'19' || CAST(80 + {i} % 20 AS STRING)"
    s1 = f"{comp} || '   was  founded by ' || {person} || ' .'"
    s2 = f"{comp} || ' was founded in ' || {year} || '!!'"
    s3 = (
        f"{comp} || (CASE {i} % 2 WHEN 0 THEN ' is based in ' "
        f"ELSE ' is headquartered in ' END) || {city} || '.'"
    )
    s4 = f"{person} || ' is the CEO of ' || {comp} || ' .....'"
    s5 = "'The committee @#$% will reconvene after the *** recess .'"
    s6 = f"(CASE WHEN {i} % 3 = 0 THEN {comp} || ' acquired ' || {comp2} || '. ' ELSE '' END)"
    s7 = (
        f"{person} || (CASE {i} % 2 WHEN 0 THEN ' works at ' "
        f"ELSE ' works for ' END) || {comp2} || '.'"
    )
    s8 = f"{comp} || ' is a ' || {kind} || ' ----- est ' || {year} || '.'"
    return (
        f"'  ' || {s1} || '  ' || {s2} || ' ' || {s3} || chr(9) || {s4}"
        f" || ' ' || {s5} || ' ' || {s6} || {s7} || ' ' || {s8}"
    )


def twin_pages(docs: DataFrame, id_limit: int = 240) -> DataFrame:
    """(url, warc_ts, lang, text) pages whose text is the SQL-constructed
    raw corpus — the input the real E→S→T pipeline runs on."""
    return docs.filter(F.col("doc_id") < id_limit).select(
        F.concat(F.lit("https://twin.test/p/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.expr(raw_text_sql("doc_id")).alias("text"),
    )


def triple_sha_col() -> F.Column:
    """Cross-engine deterministic triple id over the content key."""
    return sha256_id_col(
        "triple", "url", F.col("sent_idx").cast("string"), "subj", "pred", "obj"
    )


# ---------------------------------------------------------------------------
# Entity-dictionary twin (sha256 eids so DuckDB reproduces them natively)
# ---------------------------------------------------------------------------


def twin_entity_dict(spark: SparkSession) -> DataFrame:
    """(eid, alias) rows: 24 companies × 3 alias forms (canonical, ' Inc',
    'The … Company' — the last exercises the leading-'the ' strip in
    link._norm), 20 persons, 5 cities.

    The plan is cached per session (queries.common.session_cached): it is
    a pure function of module constants, every kg twin query calls it,
    and building the literal-array expression tree costs ~0.3 s of py4j
    round-trips each time. A lazy plan is cached, never data."""
    from darkbo_spark.queries.common import session_cached

    return session_cached(spark, "twin_entity_dict", lambda: _twin_entity_dict(spark))


def _twin_entity_dict(spark: SparkSession) -> DataFrame:
    adj = F.array(*[F.lit(x) for x in ADJ])
    noun = F.array(*[F.lit(x) for x in NOUN])
    first = F.array(*[F.lit(x) for x in FIRST])
    last = F.array(*[F.lit(x) for x in LAST])
    city = F.array(*[F.lit(x) for x in CITY])

    comp = spark.range(len(ADJ) * len(NOUN)).select(
        F.concat_ws(
            " ",
            F.element_at(adj, (F.col("id") % 6 + 1).cast("int")),
            F.element_at(noun, (F.floor(F.col("id") / 6) + 1).cast("int")),
        ).alias("canonical")
    )
    comp = comp.select(
        "canonical",
        F.explode(
            F.array(
                F.col("canonical"),
                F.concat(F.col("canonical"), F.lit(" Inc")),
                F.concat(F.lit("The "), F.col("canonical"), F.lit(" Company")),
            )
        ).alias("alias"),
    )
    pers = spark.range(len(FIRST) * len(LAST)).select(
        F.concat_ws(
            " ",
            F.element_at(first, (F.col("id") % 5 + 1).cast("int")),
            F.element_at(last, (F.floor(F.col("id") / 5) + 1).cast("int")),
        ).alias("canonical")
    )
    pers = pers.select("canonical", F.col("canonical").alias("alias"))
    cit = spark.range(len(CITY)).select(
        F.element_at(city, (F.col("id") + 1).cast("int")).alias("canonical")
    )
    cit = cit.select("canonical", F.col("canonical").alias("alias"))
    return (
        comp.unionByName(pers)
        .unionByName(cit)
        .select(sha256_id_col("entity", "canonical").alias("eid"), "alias")
    )


# ---------------------------------------------------------------------------
# DuckDB replay (the oracle side)
# ---------------------------------------------------------------------------

# complement set identical to reference_impl._CHARSET (ASCII domain)
_CHARSET_CLASS = "[^\\w\\s.,;:!?()\\[\\]\"''/-]"


def clean_sql(col: str) -> str:
    """clean_text replayed in RE2 SQL: the same 6 substitutions in the same
    order. _WS runs first and removes every newline, so the reference's
    per-line filter degenerates to one line — replayed as a CASE guard."""
    c = f"regexp_replace({col}, '\\s+', ' ', 'g')"
    c = f"regexp_replace({c}, '{_CHARSET_CLASS}', ' ', 'g')"
    c = f"regexp_replace({c}, '\\.{{3,}}', '...', 'g')"
    c = f"regexp_replace({c}, '-{{3,}}', '---', 'g')"
    c = f"regexp_replace({c}, '\\s+([,.;:!?])', '\\1', 'g')"
    c = f"regexp_replace({c}, '([,.;:!?])\\s*([,.;:!?])', '\\1 \\2', 'g')"
    t = f"trim({c})"
    return (
        f"(CASE WHEN length({t}) > 10 OR (length({t}) > 3 AND "
        f"regexp_matches({t}, '[A-Za-z]')) THEN {t} ELSE '' END)"
    )


def sentences_sql(cleaned: str) -> str:
    """split_sentences replayed: `(?<=[.!?]) +` lookbehind → mark + split."""
    marked = f"regexp_replace({cleaned}, '([.!?]) +', '\\1' || chr(1), 'g')"
    return (
        f"list_filter(list_transform(string_split({marked}, chr(1)), "
        f"x -> trim(x)), x -> x <> '')"
    )


def _sents_cte(id_limit: int) -> str:
    return f"""
WITH raw AS (
  SELECT 'https://twin.test/p/' || CAST(doc_id AS STRING) AS url,
         {raw_text_sql("doc_id")} AS t
  FROM documents WHERE doc_id < {id_limit}
),
s AS (SELECT url, {sentences_sql(clean_sql("t"))} AS sents FROM raw),
sents AS (
  SELECT url, unnest(sents) AS sentence,
         generate_subscripts(sents, 1) - 1 AS sent_idx
  FROM s
),
triples AS (
  SELECT url, sent_idx, trim(so.s) AS subj, pred, trim(so.o) AS obj
  FROM ({_pattern_union()})
)"""


def _pattern_union() -> str:
    """One SELECT per TRIPLE_PATTERN, verbatim pattern text (RE2 accepts
    (?P<name>…) named groups; DuckDB regexp_extract returns them as a
    struct). WHERE regexp_matches gates emission like `pat.search`."""
    parts = []
    for pred, pat in TRIPLE_PATTERNS:
        p = pat.pattern.replace("'", "''")
        parts.append(
            f"SELECT url, sent_idx, "
            f"regexp_extract(sentence, '{p}', ['s','o']) AS so, '{pred}' AS pred "
            f"FROM sents WHERE regexp_matches(sentence, '{p}')"
        )
    return "\nUNION ALL\n".join(parts)


def _sha_expr() -> str:
    return (
        "substr(sha256('triple:' || url || ':' || CAST(sent_idx AS STRING)"
        " || ':' || subj || ':' || pred || ':' || obj), 1, 32)"
    )


def est_oracle_sql(id_limit: int = 240) -> str:
    """DuckDB replay of extract_docs → segment_sentences →
    extract_raw_triples over the twin corpus."""
    return f"""{_sents_cte(id_limit)}
SELECT url, sent_idx, subj, pred, obj, {_sha_expr()} AS triple_sha
FROM triples
ORDER BY url, sent_idx, pred
"""


def _dict_sql() -> str:
    comp_c = (
        f"{_pick(ADJ, 'i % 6')} || ' ' || "
        f"{_pick(NOUN, 'CAST((i - i % 6) / 6 AS INT)')}"
    )
    pers_c = (
        f"{_pick(FIRST, 'i % 5')} || ' ' || "
        f"{_pick(LAST, 'CAST((i - i % 5) / 5 AS INT)')}"
    )
    city_c = _pick(CITY, "i")
    return f"""
dict AS (
  SELECT substr(sha256('entity:' || c), 1, 32) AS eid,
         unnest([c, c || ' Inc', 'The ' || c || ' Company']) AS alias
  FROM (SELECT {comp_c} AS c FROM range(0, {len(ADJ) * len(NOUN)}) t(i))
  UNION ALL
  SELECT substr(sha256('entity:' || c), 1, 32), c
  FROM (SELECT {pers_c} AS c FROM range(0, {len(FIRST) * len(LAST)}) t(i))
  UNION ALL
  SELECT substr(sha256('entity:' || c), 1, 32), c
  FROM (SELECT {city_c} AS c FROM range(0, {len(CITY)}) t(i))
),
dict_norm AS (
  SELECT regexp_replace(lower(trim(alias)), '^the ', '') AS alias_norm,
         min(eid) AS eid
  FROM dict GROUP BY 1
)"""


def twin_alias_dict(spark: SparkSession, n: int = 60) -> DataFrame:
    """(eid, alias) rows engineered to alias-chain: entities {3k,3k+1,3k+2}
    share 'alias-3k', and every 6th entity also claims 'alias-(i+3)',
    chaining adjacent triples into clusters of six. Canonicalization must
    merge them to the min sha256 eid per cluster."""
    i = F.col("id")
    base = spark.range(n).select(
        i.alias("i"), sha256_id_col("entity", i.cast("string")).alias("eid")
    )

    def _alias(expr: F.Column) -> F.Column:
        return F.concat(F.lit("alias-"), expr.cast("string")).alias("alias")

    a1 = base.select("eid", _alias(F.col("i")))
    a2 = base.select("eid", _alias(F.col("i") - F.col("i") % 3))
    a3 = base.filter(F.col("i") % 6 == 0).select("eid", _alias(F.col("i") + 3))
    return a1.unionByName(a2).unionByName(a3)


def canonicalize_oracle_sql(n: int = 60) -> str:
    """Connected components replayed as a DuckDB RECURSIVE CTE: `reach`
    enumerates (node, label) for every label whose node can reach it over
    the undirected bipartite alias graph; min(label) per node is the
    component id (UNION dedups, so the recursion is a fixpoint). Same
    min-eid representative rule as kg/canonicalize.py."""
    return f"""
WITH RECURSIVE
ents AS (SELECT i, substr(sha256('entity:' || CAST(i AS STRING)), 1, 32) AS eid
         FROM range(0, {n}) t(i)),
pairs AS (
  SELECT DISTINCT eid, alias_norm FROM (
    SELECT eid, 'alias-' || CAST(i AS STRING) AS alias_norm FROM ents
    UNION ALL
    SELECT eid, 'alias-' || CAST(i - i % 3 AS STRING) FROM ents
    UNION ALL
    SELECT eid, 'alias-' || CAST(i + 3 AS STRING) FROM ents WHERE i % 6 = 0
  )
),
edges AS (SELECT 'e:' || eid AS src, 'a:' || alias_norm AS dst FROM pairs),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(node, lbl) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node
),
comp AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
e_nodes AS (SELECT substr(node, 3) AS eid, comp FROM comp WHERE node LIKE 'e:%'),
rep AS (SELECT comp, min(eid) AS canon_eid FROM e_nodes GROUP BY comp)
SELECT e.eid, r.canon_eid FROM e_nodes e JOIN rep r USING (comp)
ORDER BY eid
"""


TWIN_SURFACES = [
    "the acme systems",
    "stellar labs",
    "quantum holdings inc",
    "wei chen",
    "berlin",
    "vertex dynamics extra words",
    "zzz unknown entity",
]


def twin_surfaces(spark: SparkSession) -> DataFrame:
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"surface": TWIN_SURFACES}))


def enc_cte(src: str, key_col: str, text_col: str, quantize: bool = False) -> str:
    """Shared (key, vec/val) CTE chain — the ONE SQL replay of the A7 md5
    hash-projection encoder (functions/embed._HashEncoder): tokenize on
    whitespace runs, bucket = first md5 byte % 64, sign = second-byte
    parity, L2 normalize, round 6. Emits `enc_cell` (key, dim, val) and
    `enc_vec` (key, vec) — an ORDERED 64-element double list, so dot
    products fold in the same index order as Spark's aggregate, and the
    integer-valued ±1 vote sums make every engine's addition exact.

    `quantize=True` additionally replays the float32 quantization the
    Spark pipeline applies when it casts the UDF's array<float> output
    back to double (`::FLOAT::DOUBLE`): consumers that feed the vectors
    into further float math (LSH sign tests, cosine) need bit-identical
    inputs, not merely 6dp-close ones.

    Degenerate inputs follow _HashEncoder exactly: a token-free text and
    a sign-cancelling text both emit the 64-dim ZERO vector (the
    encoder's `norm or 1.0` guard) — keys therefore come from `src`, not
    from the tokenized rows, and the norm divisor is guarded."""
    norm = "(CASE WHEN COALESCE(n.norm, 0) > 0 THEN n.norm ELSE 1.0 END)"
    val = f"round(COALESCE(b.s, 0) / {norm}, 6)"
    if quantize:
        val = f"CAST(CAST({val} AS FLOAT) AS DOUBLE)"
    return f"""
enc_tok AS (
  SELECT {key_col} AS key,
         unnest(list_filter(string_split_regex(lower({text_col}),
                '[ \t\n\r\f\v]+'), x -> x <> '')) AS tok
  FROM {src}
),
enc_b AS (
  SELECT key,
         CAST(concat('0x', substr(md5(tok), 1, 2)) AS INT) % 64 AS bdim,
         SUM(CASE WHEN CAST(concat('0x', substr(md5(tok), 3, 2)) AS INT) % 2 = 0
                  THEN 1.0 ELSE -1.0 END) AS s
  FROM enc_tok GROUP BY key, bdim
),
enc_n AS (SELECT key, sqrt(SUM(s * s)) AS norm FROM enc_b GROUP BY key),
enc_dims AS (SELECT t.key, r.i AS dim
             FROM (SELECT DISTINCT {key_col} AS key FROM {src}) t,
                  range(0, 64) r(i)),
enc_cell AS (
  SELECT d.key, d.dim, {val} AS val
  FROM enc_dims d
  LEFT JOIN enc_n n ON n.key = d.key
  LEFT JOIN enc_b b ON b.key = d.key AND b.bdim = d.dim
),
enc_vec AS (
  SELECT key, list(val ORDER BY dim) AS vec FROM enc_cell GROUP BY key
)"""


def embed_candidates_oracle_sql(min_cosine: float, n_planes: int, seed: int) -> str:
    """Full replay of kg.link.embed_candidates: encoder → sign-LSH bucket
    (the seeded hyperplanes are Python-generated constants, so they inline
    as literals — the SAME floats Spark uses) → cosine within colliding
    buckets → argmax per surface. The encoder CTE runs with
    quantize=True: Spark's pipeline casts the UDF's array<float> output
    to double, so the oracle replays that float32 quantization
    (::FLOAT::DOUBLE) and every downstream sum — plane sign tests AND the
    cosine fold — is computed over BIT-IDENTICAL inputs in index order in
    both engines, with no near-boundary fragility."""
    from darkbo_spark.operators.similarity import random_planes

    planes = random_planes(64, n_planes, seed)
    surf_vals = ", ".join(f"('{s}')" for s in TWIN_SURFACES)
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"

    def plane_lit(p: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v.vec, {plane_lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH surfaces(surface) AS (VALUES {surf_vals}),
s_norms AS (SELECT DISTINCT {norm.format(c='surface')} AS s_norm FROM surfaces),
{_dict_sql().lstrip().rstrip()},
d_norms AS (SELECT DISTINCT alias_norm, eid FROM (
  SELECT regexp_replace(lower(trim(alias)), '^the ', '') AS alias_norm, eid
  FROM dict
)),
names AS (
  SELECT s_norm AS name FROM s_norms
  UNION SELECT alias_norm FROM d_norms
),
{enc_cte('names', 'name', 'name', quantize=True).lstrip()},
vecs AS (SELECT key AS name, vec FROM enc_vec
         WHERE sqrt(list_dot_product(vec, vec)) > 0),
surf AS (
  SELECT s.s_norm, v.vec AS s_vec, {bucket} AS bucket
  FROM s_norms s JOIN vecs v ON v.name = s.s_norm
),
dic AS (
  SELECT d.alias_norm, d.eid, v.vec AS d_vec, {bucket} AS bucket
  FROM d_norms d JOIN vecs v ON v.name = d.alias_norm
),
scored AS (
  SELECT s.s_norm, dic.eid, dic.alias_norm,
         round(list_dot_product(s.s_vec, dic.d_vec)
               / (sqrt(list_dot_product(s.s_vec, s.s_vec))
                  * sqrt(list_dot_product(dic.d_vec, dic.d_vec))), 6) AS cosine
  FROM surf s JOIN dic ON s.bucket = dic.bucket
),
ranked AS (
  SELECT s_norm, eid, alias_norm, cosine,
         ROW_NUMBER() OVER (PARTITION BY s_norm
                            ORDER BY cosine DESC, eid ASC, alias_norm ASC) AS rk
  FROM scored WHERE cosine >= {min_cosine}
)
SELECT s_norm, eid, alias_norm, cosine FROM ranked WHERE rk = 1
ORDER BY s_norm
"""


def linked_oracle_sql(id_limit: int = 240) -> str:
    """est_oracle_sql + the link stage: normalized-alias LEFT joins against
    the dictionary twin (mirrors kg.link._norm / _prep_dict / left join)."""
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    return f"""{_sents_cte(id_limit)},
{_dict_sql().lstrip()}
SELECT t.url, t.sent_idx, t.subj, t.pred, t.obj,
       ds.eid AS subj_eid, dob.eid AS obj_eid
FROM triples t
LEFT JOIN dict_norm ds  ON {norm.format(c='t.subj')} = ds.alias_norm
LEFT JOIN dict_norm dob ON {norm.format(c='t.obj')} = dob.alias_norm
ORDER BY t.url, t.sent_idx, t.pred
"""


def _linked_edges_ctes(id_limit: int) -> str:
    """triples→linked entity edges as CTEs (both eids must resolve):
    the graph the KG's analytics run over, derived by the SAME clean →
    segment → extract → link replay as linked_oracle_sql."""
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    return f"""{_sents_cte(id_limit)},
{_dict_sql().lstrip()},
e AS (
  SELECT DISTINCT ds.eid AS src, dob.eid AS dst
  FROM triples t
  JOIN dict_norm ds  ON {norm.format(c='t.subj')} = ds.alias_norm
  JOIN dict_norm dob ON {norm.format(c='t.obj')} = dob.alias_norm
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes)"""


def degrees_oracle_sql(id_limit: int = 240) -> str:
    # _sents_cte (inside _linked_edges_ctes) already opens the WITH clause
    return f"""{_linked_edges_ctes(id_limit)},
od AS (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY src),
id_ AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY dst)
SELECT n.node,
       CAST(COALESCE(od.out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(id_.in_deg, 0) AS BIGINT) AS in_deg
FROM nodes n
LEFT JOIN od ON od.node = n.node
LEFT JOIN id_ ON id_.node = n.node
ORDER BY n.node
"""


def pagerank_oracle_sql(
    id_limit: int = 240, iters: int = 5, damping: float = 0.85
) -> str:
    """Unrolled power-method replay of operators/graph.pagerank over the
    linked entity graph. Float discipline mirrors the Spark operator
    EXPRESSION BY EXPRESSION: per-edge contribution rounded to 12 dp and
    summed in DECIMAL(28,12) (exact, order-free), damping update in IEEE
    doubles — and the damping base is written as (1.0 - d)/n, NOT a
    folded literal, because 1.0-0.85 ≠ nearest-double(0.15) and the Spark
    side computes the subtraction."""
    # _sents_cte (inside _linked_edges_ctes) already opens the WITH clause
    return f"""{_linked_edges_ctes(id_limit)},
{pagerank_rounds_ctes(iters, damping)}
SELECT node, rank FROM r{iters}
ORDER BY node
"""


def pagerank_rounds_ctes(iters: int, damping: float) -> str:
    """The generic unrolled power-method CTE chain (r0..r{iters}) over
    ALREADY-DEFINED CTEs e(src, dst), nodes(node), nn(n) — shared by the
    entity-graph oracle above and the host-link-graph oracle
    (queries/linkgraph_queries.py), so the float discipline lives in
    exactly one place."""
    d = f"CAST({damping} AS DOUBLE)"
    base = f"((CAST(1.0 AS DOUBLE) - {d}) / (SELECT n FROM nn))"
    parts = [
        "outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for k in range(iters):
        parts.append(f"""r{k + 1} AS (
  SELECT nodes.node,
         round({base} + {d} * CAST(COALESCE(s.s, 0) AS DOUBLE), 12) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(round(r.rank / o.outdeg, 12) AS DECIMAL(28,12))) AS s
    FROM e
    JOIN r{k} r ON r.node = e.src
    JOIN outdeg o ON o.node = e.src
    GROUP BY e.dst
  ) s ON s.node = nodes.node
)""")
    return ",\n".join(parts)


def two_hop_oracle_sql(id_limit: int = 240) -> str:
    """Distinct 2-hop out-neighborhood size per entity (neighbors-of-
    neighbors excluding self and direct neighbors) — the KG traversal a
    RAG consumer runs to pull an entity's context subgraph."""
    return f"""{_linked_edges_ctes(id_limit)},
two_hop AS (
  SELECT DISTINCT a.src AS node, b.dst AS nbr2
  FROM e a JOIN e b ON b.src = a.dst
  WHERE b.dst <> a.src
    AND NOT EXISTS (SELECT 1 FROM e d WHERE d.src = a.src AND d.dst = b.dst)
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_two_hop
FROM two_hop GROUP BY node
ORDER BY node
"""


def cooccurrence_oracle_sql(id_limit: int = 240, min_pair_docs: int = 1) -> str:
    """Document-level entity co-occurrence PMI over the linked twin
    corpus (operators/graph.entity_cooccurrence): per-url mention sets
    from BOTH triple slots, distinct-ed, self-joined on url with e1 < e2,
    PMI = ln(c_xy * N / (c_x * c_y)) over exact BIGINT counts. Float
    discipline: one ln over a product/quotient of exactly-representable
    integer doubles, rounded to 6 dp on both engines — the expression
    tree (c_xy * N first, then the divide) mirrors the Spark projection
    token for token."""
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    return f"""{_sents_cte(id_limit)},
{_dict_sql().lstrip()},
m0 AS (
  SELECT t.url AS doc, ds.eid AS eid
  FROM triples t JOIN dict_norm ds ON {norm.format(c='t.subj')} = ds.alias_norm
  UNION ALL
  SELECT t.url AS doc, dob.eid AS eid
  FROM triples t JOIN dict_norm dob ON {norm.format(c='t.obj')} = dob.alias_norm
),
ents AS (SELECT DISTINCT doc, eid FROM m0),
nd AS (SELECT COUNT(DISTINCT doc) AS n FROM ents),
cx AS (SELECT eid, COUNT(*) AS c FROM ents GROUP BY eid),
pairs AS (
  SELECT a.eid AS e1, b.eid AS e2, COUNT(*) AS c_xy
  FROM ents a JOIN ents b ON a.doc = b.doc AND a.eid < b.eid
  GROUP BY 1, 2
),
f AS (SELECT * FROM pairs WHERE c_xy >= {min_pair_docs})
SELECT f.e1, f.e2,
       CAST(f.c_xy AS BIGINT) AS n_docs_together,
       round(ln(CAST(f.c_xy AS DOUBLE) * CAST((SELECT n FROM nd) AS DOUBLE)
                / (CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE))), 6) AS pmi
FROM f JOIN cx c1 ON c1.eid = f.e1 JOIN cx c2 ON c2.eid = f.e2
ORDER BY f.e1, f.e2
"""


# ---------------------------------------------------------------------------
# Temporal fact resolution + conflict detection (kg/temporal.py): the twin
# pages gain a per-page crawl date (doc_id % 7 days after 2024-01-01), and
# DuckDB replays pipeline → subj link → latest-wins window / functional-
# violation aggregate. The date is re-derived from the url suffix (both
# engines construct url = prefix || doc_id, so substr(url, 21) IS doc_id).
# ---------------------------------------------------------------------------

_TS_SQL = (
    "DATE '2024-01-01'"
    " + CAST(CAST(substr(t.url, 21) AS BIGINT) % 7 AS INTEGER)"
)


def _linked_ts_cte(id_limit: int) -> str:
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    return f"""{_sents_cte(id_limit)},
{_dict_sql().lstrip()},
lt AS (
  SELECT t.url, t.sent_idx, t.pred, t.obj, ds.eid AS subj_eid,
         {_TS_SQL} AS ts
  FROM triples t
  JOIN dict_norm ds ON {norm.format(c='t.subj')} = ds.alias_norm
)"""


def facts_oracle_sql(id_limit: int = 240, as_of: str = "2024-01-05") -> str:
    """resolve_facts replay: per-(slot, value) envelope aggregate, then
    latest-wins ONLY on functional slots (FUNCTIONAL_PREDS in lockstep
    with kg/temporal.py) — multi-valued slots keep every value asserted
    on or before the cutoff, with the same deterministic tie order."""
    preds = ", ".join(
        f"'{p}'" for p in ("founded_in", "founded_by", "based_in", "is_a")
    )
    return f"""{_linked_ts_cte(id_limit)},
env AS (
  SELECT subj_eid, pred, obj, MAX(ts) AS max_ts, MIN(ts) AS min_ts,
         CAST(COUNT(*) AS BIGINT) AS n_mentions
  FROM lt WHERE ts <= DATE '{as_of}'
  GROUP BY subj_eid, pred, obj
),
rk AS (
  SELECT subj_eid, pred, obj, max_ts, min_ts, n_mentions,
         ROW_NUMBER() OVER (PARTITION BY subj_eid, pred
                            ORDER BY max_ts DESC, obj DESC) AS rk
  FROM env
)
SELECT subj_eid, pred, obj,
       strftime(max_ts, '%Y-%m-%d') AS fact_date,
       strftime(min_ts, '%Y-%m-%d') AS first_seen,
       n_mentions
FROM rk
WHERE pred NOT IN ({preds}) OR rk = 1
ORDER BY subj_eid, pred, obj
"""


def conflicts_oracle_sql(id_limit: int = 240) -> str:
    """detect_conflicts replay: functional slots asserting >1 distinct
    value, summarized by count + value extremes (FUNCTIONAL_PREDS kept in
    lockstep with kg/temporal.py)."""
    preds = ", ".join(f"'{p}'" for p in ("founded_in", "founded_by", "based_in", "is_a"))
    return f"""{_linked_ts_cte(id_limit)}
SELECT subj_eid, pred,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_values,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       MIN(obj) AS first_obj,
       MAX(obj) AS last_obj
FROM lt
WHERE pred IN ({preds})
GROUP BY subj_eid, pred
HAVING COUNT(DISTINCT obj) > 1
ORDER BY subj_eid, pred
"""


def entity_types_oracle_sql(id_limit: int = 240) -> str:
    """entity_types replay: modal is_a type per entity, ties to the
    lexicographically smallest type."""
    return f"""{_linked_ts_cte(id_limit)},
tc AS (
  SELECT subj_eid, obj AS entity_type, CAST(COUNT(*) AS BIGINT) AS n_mentions
  FROM lt WHERE pred = 'is_a'
  GROUP BY subj_eid, obj
),
rk AS (
  SELECT subj_eid, entity_type, n_mentions,
         ROW_NUMBER() OVER (PARTITION BY subj_eid
                            ORDER BY n_mentions DESC, entity_type ASC) AS rk
  FROM tc
)
SELECT subj_eid, entity_type, n_mentions FROM rk WHERE rk = 1
ORDER BY subj_eid
"""


def fact_support_oracle_sql(id_limit: int = 240) -> str:
    """fact_support replay: distinct-page support per (slot, value) and
    its 6dp share of the slot's evidence mass (float discipline: both
    operands cast to DOUBLE before the divide — DuckDB SUM(BIGINT) is
    HUGEINT and must not reach the driver canon uncast)."""
    return f"""{_linked_ts_cte(id_limit)},
pf AS (
  SELECT subj_eid, pred, obj, CAST(COUNT(DISTINCT url) AS BIGINT) AS support
  FROM lt GROUP BY subj_eid, pred, obj
)
SELECT subj_eid, pred, obj, support,
       round(CAST(support AS DOUBLE)
             / CAST(SUM(support) OVER (PARTITION BY subj_eid, pred) AS DOUBLE),
             6) AS confidence
FROM pf
ORDER BY subj_eid, pred, obj
"""


def entity_profile_oracle_sql(id_limit: int = 240) -> str:
    """entity_profiles replay: modal type + distinct-fact count + in/out
    degree over the union universe (edge-set entities ∪ fact-asserting
    entities), every piece re-derived from the same pipeline CTEs."""
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    return f"""{_linked_edges_ctes(id_limit)},
lt AS (
  SELECT t.url, t.pred, t.obj, ds.eid AS subj_eid
  FROM triples t
  JOIN dict_norm ds ON {norm.format(c='t.subj')} = ds.alias_norm
),
od AS (SELECT src AS eid, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src),
id_ AS (SELECT dst AS eid, CAST(COUNT(*) AS BIGINT) AS in_deg FROM e GROUP BY dst),
tc AS (
  SELECT subj_eid, obj AS entity_type, COUNT(*) AS n
  FROM lt WHERE pred = 'is_a' GROUP BY subj_eid, obj
),
ty AS (
  SELECT subj_eid AS eid, entity_type FROM (
    SELECT subj_eid, entity_type,
           ROW_NUMBER() OVER (PARTITION BY subj_eid
                              ORDER BY n DESC, entity_type ASC) AS rk
    FROM tc
  ) WHERE rk = 1
),
fc AS (
  SELECT subj_eid AS eid,
         CAST(COUNT(DISTINCT pred || chr(31) || obj) AS BIGINT) AS n_facts
  FROM lt GROUP BY subj_eid
),
pn AS (SELECT node AS eid FROM nodes UNION SELECT DISTINCT subj_eid FROM lt)
SELECT pn.eid, ty.entity_type,
       CAST(COALESCE(fc.n_facts, 0) AS BIGINT) AS n_facts,
       CAST(COALESCE(od.out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(id_.in_deg, 0) AS BIGINT) AS in_deg
FROM pn
LEFT JOIN ty ON ty.eid = pn.eid
LEFT JOIN fc ON fc.eid = pn.eid
LEFT JOIN od ON od.eid = pn.eid
LEFT JOIN id_ ON id_.eid = pn.eid
ORDER BY pn.eid
"""


def fact_history_oracle_sql(id_limit: int = 240) -> str:
    """fact_history replay: min/max crawl date + mention count per
    asserted (slot, value)."""
    return f"""{_linked_ts_cte(id_limit)}
SELECT subj_eid, pred, obj,
       strftime(MIN(ts), '%Y-%m-%d') AS first_seen,
       strftime(MAX(ts), '%Y-%m-%d') AS last_seen,
       CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM lt
GROUP BY subj_eid, pred, obj
ORDER BY subj_eid, pred, obj
"""


def nil_candidates_oracle_sql(id_limit: int = 240, min_mentions: int = 2) -> str:
    """nil_candidates replay: UNLINKED subjects (anti the dictionary on
    the same normalization) grouped by normalized surface."""
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    return f"""{_sents_cte(id_limit)},
{_dict_sql().lstrip()},
ul AS (
  -- the Spark side links against a dictionary WITHHOLDING every alias
  -- normalizing to 'r…'; the join predicate mirrors that hole exactly
  SELECT {norm.format(c='t.subj')} AS surface_norm, t.subj, t.url
  FROM triples t
  LEFT JOIN dict_norm ds ON {norm.format(c='t.subj')} = ds.alias_norm
                        AND ds.alias_norm NOT LIKE 'r%'
  WHERE ds.eid IS NULL
)
SELECT surface_norm,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_docs,
       MIN(subj) AS example_surface
FROM ul
GROUP BY surface_norm
HAVING COUNT(*) >= {min_mentions}
ORDER BY surface_norm
"""


def dict_growth_oracle_sql(id_limit: int = 240, min_mentions: int = 2) -> str:
    """Dictionary-growth round-trip replay: the surfaces unlinked against
    the holey dictionary, with the PREDICTED post-growth link status —
    a mined (recurring) surface must link after augment_dictionary +
    relink, a singleton must stay unlinked. The Spark side reports the
    OBSERVED status from an actual relink with the grown dictionary, so
    any normalization drift between miner and linker breaks the hash."""
    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    return f"""{_sents_cte(id_limit)},
{_dict_sql().lstrip()},
ul AS (
  SELECT {norm.format(c='t.subj')} AS surface_norm
  FROM triples t
  LEFT JOIN dict_norm ds ON {norm.format(c='t.subj')} = ds.alias_norm
                        AND ds.alias_norm NOT LIKE 'r%'
  WHERE ds.eid IS NULL
)
SELECT surface_norm,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(CASE WHEN COUNT(*) >= {min_mentions} THEN 1 ELSE 0 END AS BIGINT)
         AS linked_after
FROM ul
GROUP BY surface_norm
ORDER BY surface_norm
"""


def nil_candidates_both_oracle_sql(
    id_limit: int = 240, min_mentions: int = 2
) -> str:
    """nil_candidates(side="both") replay: unlinked SUBJECT surfaces ∪
    unlinked OBJECT surfaces of entity-valued predicates (literal-valued
    slots — years, type strings — excluded), unioned BEFORE the rollup so
    a surface recurring once per position clears the threshold."""
    from darkbo_spark.kg.temporal import ENTITY_OBJ_PREDS

    norm = "regexp_replace(lower(trim({c})), '^the ', '')"
    preds = ", ".join(f"'{p}'" for p in ENTITY_OBJ_PREDS)
    return f"""{_sents_cte(id_limit)},
{_dict_sql().lstrip()},
ul AS (
  SELECT {norm.format(c='t.subj')} AS surface_norm, t.subj AS surface, t.url
  FROM triples t
  LEFT JOIN dict_norm ds ON {norm.format(c='t.subj')} = ds.alias_norm
                        AND ds.alias_norm NOT LIKE 'r%'
  WHERE ds.eid IS NULL
  UNION ALL
  SELECT {norm.format(c='t.obj')} AS surface_norm, t.obj AS surface, t.url
  FROM triples t
  LEFT JOIN dict_norm dob ON {norm.format(c='t.obj')} = dob.alias_norm
                         AND dob.alias_norm NOT LIKE 'r%'
  WHERE dob.eid IS NULL AND t.pred IN ({preds})
)
SELECT surface_norm,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_docs,
       MIN(surface) AS example_surface
FROM ul
GROUP BY surface_norm
HAVING COUNT(*) >= {min_mentions}
ORDER BY surface_norm
"""


def fact_changes_oracle_sql(
    id_limit: int = 240,
    as_of_old: str = "2024-01-03",
    as_of_new: str = "2024-01-06",
) -> str:
    """fact_changes replay — deliberately the COMPOSITIONAL formulation
    (two independent fact states diffed by anti-semijoins) while the
    Spark side runs the one-pass conditional-envelope form: two different
    derivations of the crawl-cycle diff under one hash."""
    preds = ", ".join(
        f"'{p}'" for p in ("founded_in", "founded_by", "based_in", "is_a")
    )

    def state(as_of: str, name: str) -> str:
        return f"""{name} AS (
  SELECT subj_eid, pred, obj FROM (
    SELECT subj_eid, pred, obj,
           ROW_NUMBER() OVER (PARTITION BY subj_eid, pred
                              ORDER BY max_ts DESC, obj DESC) AS rk
    FROM (
      SELECT subj_eid, pred, obj, MAX(ts) AS max_ts
      FROM lt WHERE ts <= DATE '{as_of}'
      GROUP BY subj_eid, pred, obj
    )
  ) WHERE pred NOT IN ({preds}) OR rk = 1
)"""

    return f"""{_linked_ts_cte(id_limit)},
{state(as_of_old, "s_old")},
{state(as_of_new, "s_new")}
SELECT n.subj_eid, n.pred, n.obj, 'added' AS change
FROM s_new n
WHERE NOT EXISTS (SELECT 1 FROM s_old o
                  WHERE o.subj_eid = n.subj_eid AND o.pred = n.pred
                    AND o.obj = n.obj)
UNION ALL
SELECT o.subj_eid, o.pred, o.obj, 'removed' AS change
FROM s_old o
WHERE NOT EXISTS (SELECT 1 FROM s_new n
                  WHERE n.subj_eid = o.subj_eid AND n.pred = o.pred
                    AND n.obj = o.obj)
ORDER BY subj_eid, pred, obj, change
"""
