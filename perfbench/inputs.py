"""Seeded inputs for the benchmark workloads, built in this process.

Pages come from `schema.gen_rows_local`, the in-process twin of
`schema.synthesize_pages` (same `_gen_row`, byte-identical rows), so input
generation starts no Spark job and its cost never leaks into set-up time.
Everything here is a pure function of the seed.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from data_quality_spark import schema

JUNK_KINDS = frozenset({"bullets", "symbol_soup", "repeat_spam", "no_stopwords"})
TAIL_KIND = "long"
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text: str) -> frozenset[str]:
    """Distinct lower-cased word 3-grams, words split on ASCII whitespace."""
    ws = [w.lower() for w in _WS.split(text) if w]
    return frozenset(" ".join(ws[i : i + 3]) for i in range(len(ws) - 2))


def kind_of(seed: int, i: int) -> str:
    """Replays the first draws of `schema._gen_row` to recover the document
    kind the generator chose for row `i` (domain draw, then kind draw)."""
    rng = random.Random((seed * 1_000_003 + i * 2_654_435_761) % (2**63))
    if rng.random() >= 0.32:
        rng.randrange(5000)
    pick = rng.randrange(schema._KIND_TOTAL)
    return next(k for c, k in schema._KIND_CUM if pick < c)


def pii_cores(i: int) -> tuple[str, ...]:
    """The identifying core of each PII snippet `_gen_row` can plant in row
    `i` (the snippet templates in `schema._PII_SNIPPETS`)."""
    return (
        f"john.doe{i % 1000}@example.com",
        f"123-4{i % 1000:03d}",
        f"192.168.{i % 250}.{(i * 7) % 250}",
        f"123-45-{i % 1000:04d}",
    )


def _html(text: str) -> bytes:
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return f"<html><body><p>{esc.replace(chr(10), '</p><p>')}</p></body></html>".encode()


@dataclass
class Pages:
    """A pages corpus plus what the generator knows about each row."""

    urls: list[str]
    texts: list[str]
    kinds: list[str]
    pii: list[tuple[str, ...]]  # planted PII cores per row

    @property
    def n(self) -> int:
        return len(self.urls)

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)


def make_pages(n_base: int, n_tail: int, seed: int) -> Pages:
    """`n_base` synthesized pages plus `n_tail` long documents, each the
    newline-join of 20-59 further synthesized texts (ids past the base).
    The tail's text counts do not depend on the seed, only its texts do."""
    rows = schema.gen_rows_local(n_base, seed=seed)
    urls = [r[0] for r in rows]
    texts = [r[3] for r in rows]
    kinds = [kind_of(seed, i) for i in range(n_base)]
    pii = [tuple(c for c in pii_cores(i) if c in t) for i, t in enumerate(texts)]
    next_id = n_base
    for j in range(n_tail):
        k = 20 + 40 * j // n_tail
        src = range(next_id, next_id + k)
        next_id += k
        parts = [schema._gen_row(seed, s)[3] for s in src]
        text = "\n".join(parts)
        urls.append(f"https://tail.example.net/long/{seed}/{j}")
        texts.append(text)
        kinds.append(TAIL_KIND)
        pii.append(tuple(c for s in src for c in pii_cores(s) if c in text))
    return Pages(urls, texts, kinds, pii)


def write_pages(pages: Pages, path: str, files: int) -> None:
    """Parquet in the `schema.PAGES_SCHEMA` layout."""
    ts0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    table = pa.table(
        {
            "url": pa.array(pages.urls, pa.string()),
            "warc_ts": pa.array([ts0] * pages.n, pa.timestamp("us", tz="UTC")),
            "html": pa.array([_html(t) for t in pages.texts], pa.binary()),
            "text": pa.array(pages.texts, pa.string()),
            "lang": pa.array(["en"] * pages.n, pa.string()),
        }
    )
    _write_split(table, path, files)


def _write_split(table: pa.Table, path: str, files: int) -> None:
    """Row i goes to file i % files, so every file (one split per core)
    carries an even share of the long tail and of the planted copies."""
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        rows = pa.array(range(f, table.num_rows, files), pa.int64())
        pq.write_table(table.take(rows), os.path.join(path, f"part-{f:03d}.parquet"))


# ---------------------------------------------------------------------------
# Near-duplicate corpus
# ---------------------------------------------------------------------------


@dataclass
class DedupCorpus:
    ids: list[int]
    texts: list[str]
    families: list[list[int]]  # planted near-duplicate families (ids)


def make_dedup_corpus(n_base: int, n_families: int, seed: int) -> DedupCorpus:
    """Synthesized texts plus planted families: a base document of at least
    150 distinct word 3-grams and 2-7 copies, each the base plus one appended word that no
    other document has.  A copy's shingles are the base's plus one, so its
    Jaccard to the base is above 0.99, and the 4-band x 4-row LSH separates
    them only if that one shingle holds the minimum in every band: odds
    below (4/150)^4 = 5e-7 per copy.  Family sizes (3-8) stay far below the
    1000-member LSH bucket cap."""
    texts = [r[3] for r in schema.gen_rows_local(n_base, seed=seed)]
    ids = list(range(n_base))
    rng = random.Random(seed * 104_729 + 3)
    eligible = [i for i, t in enumerate(texts) if len(shingles(t)) >= 150]
    bases = rng.sample(eligible, min(n_families, len(eligible)))
    families = []
    next_id = n_base
    for b in bases:
        fam = [b]
        for _ in range(rng.randrange(2, 8)):
            ids.append(next_id)
            texts.append(f"{texts[b]} variant{next_id}")
            fam.append(next_id)
            next_id += 1
        families.append(fam)
    return DedupCorpus(ids, texts, families)


def write_dedup_corpus(corpus: DedupCorpus, path: str, files: int) -> None:
    table = pa.table(
        {"id": pa.array(corpus.ids, pa.int64()), "text": pa.array(corpus.texts, pa.string())}
    )
    _write_split(table, path, files)
