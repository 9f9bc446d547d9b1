"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of its seed arguments: the same seed
gives byte-identical files. The engine never sees the seed, only the
parquet files written here.

Page text follows the sentence shapes the engine's rule extractor knows
(company founded / based / CEO / works at / acquired / born / launched /
is-a) over the engine's default entity dictionary, plus filler sentences,
junk separators and a share of mentions no dictionary entry covers, so
the link stage has misses to report.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
# base pages span six crawl days; refetched pages land after that window
CRAWL_DAYS = 6

_FILLER = [
    "The quarterly report shows steady growth across all segments.",
    "Visitors can subscribe to the newsletter for weekly updates.",
    "This page uses cookies to improve the browsing experience.",
    "Read more about our privacy policy and terms of service.",
    "Market conditions remained volatile throughout the period.",
    "The committee will reconvene after the summer recess.",
    "Several minor issues were resolved during routine maintenance.",
    "Analysts expect the trend to continue into next year.",
]
_SEPARATORS = [" ", "  ", "\n", " \t ", "\n\n  "]
_JUNK = ["", "", "", " • ", " ™ ", " ### ", " || ", " ... "]
_UNKNOWN = ["Zorblax", "Quillon", "Marrowind", "Tessaract", "Velloria", "Brimstead"]
_KINDS = ["technology company", "consulting firm", "research organization",
          "media company", "logistics startup"]
_YEARS = [str(y) for y in range(1950, 2024)]


class Vocabulary:
    """Entity surface forms drawn from the engine's default dictionary,
    Zipf-weighted so a few head entities dominate (link-stage skew)."""

    def __init__(self, dictionary_rows: list[dict]):
        by_kind: dict[str, dict[str, list[str]]] = {}
        for r in dictionary_rows:
            by_kind.setdefault(r["kind"], {}).setdefault(r["canonical"], []).append(r["alias"])
        self.forms = {k: [v[c] for c in sorted(v)] for k, v in by_kind.items()}
        self.cum = {}
        for k, groups in self.forms.items():
            acc, cum = 0.0, []
            for i in range(len(groups)):
                acc += 1.0 / (i + 1)
                cum.append(acc)
            self.cum[k] = cum

    def pick(self, rng: random.Random, kind: str) -> str:
        group = rng.choices(self.forms[kind], cum_weights=self.cum[kind])[0]
        return rng.choice(group)


def _page_text(rng: random.Random, voc: Vocabulary) -> tuple[str, str]:
    lang = "en" if rng.random() >= 0.1 else rng.choice(["de", "es", "fr"])
    facts = []
    if lang == "en":
        for _ in range(rng.randint(2, 6)):
            company = (
                f"{rng.choice(_UNKNOWN)} Labs" if rng.random() < 0.08
                else voc.pick(rng, "company")
            )
            kind = rng.randrange(8)
            if kind == 0:
                facts.append(f"{company} was founded in {rng.choice(_YEARS)}.")
            elif kind == 1:
                verb = rng.choice(["based", "headquartered"])
                facts.append(f"{company} is {verb} in {voc.pick(rng, 'place')}.")
            elif kind == 2:
                facts.append(f"{voc.pick(rng, 'person')} is the CEO of {company}.")
            elif kind == 3:
                verb = rng.choice(["at", "for"])
                facts.append(f"{voc.pick(rng, 'person')} works {verb} {company}.")
            elif kind == 4:
                facts.append(f"{company} acquired {voc.pick(rng, 'company')}.")
            elif kind == 5:
                facts.append(f"{voc.pick(rng, 'person')} was born in {voc.pick(rng, 'place')}.")
            elif kind == 6:
                facts.append(f"{company} launched {voc.pick(rng, 'product')}.")
            else:
                facts.append(f"{company} is a {rng.choice(_KINDS)}.")
    sentences = facts + rng.sample(_FILLER, rng.randint(2, 5))
    rng.shuffle(sentences)
    parts = []
    for s in sentences:
        parts += [rng.choice(_JUNK), s, rng.choice(_SEPARATORS)]
    return "".join(parts), lang


def page_rows(seed: int, ids: list[int], n_base: int, voc: Vocabulary,
              version: int = 0) -> dict[str, list]:
    """Columns (page_id, url, warc_ts, text, lang) for page ids `ids`.
    `version` > 0 is a refetch: same url, new text, a later crawl time."""
    out: dict[str, list] = {"page_id": [], "url": [], "warc_ts": [], "text": [], "lang": []}
    span_s = CRAWL_DAYS * 86400
    for i in ids:
        rng = random.Random(f"page:{seed}:{version}:{i}")
        text, lang = _page_text(rng, voc)
        offset = (i * span_s) // max(n_base, 1) + rng.randrange(600)
        if version:
            offset = span_s + version * 3600 + rng.randrange(600)
        out["page_id"].append(i)
        out["url"].append(f"https://site{i % 211}.example.org/p/{i}")
        out["warc_ts"].append(EPOCH + dt.timedelta(seconds=offset))
        out["text"].append(text)
        out["lang"].append(lang)
    return out


_PAGES_SCHEMA = pa.schema([
    ("page_id", pa.int64()), ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")), ("text", pa.string()), ("lang", pa.string()),
])


def write_pages(path: str, cols: dict[str, list], n_files: int) -> None:
    """One parquet dataset of `n_files` files, so the scan has as many
    input splits as the engine has task slots to fill."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols, schema=_PAGES_SCHEMA)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))
