"""Output checkers, computed apart from the program.

Keep/drop labels come from the plain-Python rule-spec oracle
(`tests/oracle.py:label_row`), document kinds and planted PII from the
generator (`inputs.py`), and near-duplicate truth from an exact Python
recomputation of word-3-shingle Jaccard.  Outputs are read back with
pyarrow, never through Spark.
"""

from __future__ import annotations

import json
import multiprocessing
import os
from collections import Counter

import pyarrow.dataset as ds

from perfbench.inputs import JUNK_KINDS, DedupCorpus, Pages, shingles

MIN_F1 = 0.99
MIN_JACCARD = 0.7


def _oracle_keep(text: str) -> bool:
    from tests.oracle import label_row

    return label_row(text)["keep"]


def oracle_keeps(texts: list[str], procs: int) -> list[bool]:
    """Oracle keep/drop per document, over `procs` spawned processes."""
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        return pool.map(_oracle_keep, texts, chunksize=32)
    finally:
        pool.close()
        pool.join()


def _keep_value(v) -> bool:
    # A `keep=` partition directory reads back as the STRING 'true'/'false'
    # (and bool('false') is True); a bucket file holds a real boolean.
    if v in (True, "true"):
        return True
    if v in (False, "false"):
        return False
    raise ValueError(f"keep value {v!r} is neither boolean nor 'true'/'false'")


def read_pages_output(out_dir: str) -> list[tuple[str, bool, str]]:
    """(url, keep, scrubbed_text) rows of a one-shot or bucketed output."""
    table = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["url", "keep", "scrubbed_text"]
    )
    return [
        (u, _keep_value(k), s)
        for u, k, s in zip(*(table.column(c).to_pylist() for c in ("url", "keep", "scrubbed_text")))
    ]


def check_pages_output(pages: Pages, oracle: list[bool], rows) -> list[str]:
    problems = []
    counts = Counter(u for u, _, _ in rows)
    missing = [u for u in pages.urls if counts[u] == 0]
    repeated = [u for u, c in counts.items() if c > 1]
    extra = set(counts) - set(pages.urls)
    if missing or repeated or extra:
        problems.append(
            f"urls: {len(missing)} missing, {len(repeated)} repeated, {len(extra)} unknown"
        )
    by_url = {u: (k, s) for u, k, s in rows}
    tp = fp = fn = 0
    junk_kept, pii_left = [], []
    for i, url in enumerate(pages.urls):
        if url not in by_url:
            continue
        keep, scrubbed = by_url[url]
        tp += keep and oracle[i]
        fp += keep and not oracle[i]
        fn += oracle[i] and not keep
        if keep and pages.kinds[i] in JUNK_KINDS:
            junk_kept.append(url)
        if any(core in (scrubbed or "") for core in pages.pii[i]):
            pii_left.append(url)
    f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
    if f1 < MIN_F1:
        problems.append(f"keep/drop F1 {f1:.4f} < {MIN_F1} (tp={tp} fp={fp} fn={fn})")
    if junk_kept:
        problems.append(f"{len(junk_kept)} junk-kind documents kept, e.g. {junk_kept[0]}")
    if pii_left:
        problems.append(f"planted PII survives scrubbing in {len(pii_left)} documents, e.g. {pii_left[0]}")
    return problems


def check_bucket_metrics(out_dir: str, n_buckets: int, n_rows: int) -> list[str]:
    """`rows_total` in the per-bucket `_metrics.json` files sums to the input."""
    total = 0
    for b in range(n_buckets):
        with open(os.path.join(out_dir, f"bucket={b}", "_metrics.json")) as f:
            total += json.load(f)["metrics"]["rows_total"]
    return [] if total == n_rows else [f"bucket rows_total sums to {total}, input has {n_rows}"]


# ---------------------------------------------------------------------------
# near-duplicate detection
# ---------------------------------------------------------------------------


def check_dedup(corpus: DedupCorpus, pairs, clusters, survivors) -> list[str]:
    """`pairs` (id_a, id_b, jaccard), `clusters` (id, cluster_id),
    `survivors` (doc_id, cluster_id, cluster_size, keep)."""
    problems = []
    text = dict(zip(corpus.ids, corpus.texts))
    sets: dict[int, frozenset[str]] = {}
    low = []
    for a, b, _ in pairs:
        for i in (a, b):
            if i not in sets:
                sets[i] = shingles(text[i])
        sa, sb = sets[a], sets[b]
        if len(sa & sb) / len(sa | sb) < MIN_JACCARD:
            low.append((a, b))
    if low:
        problems.append(f"{len(low)} reported pairs below exact Jaccard {MIN_JACCARD}, e.g. {low[0]}")

    # clusters must be the connected components of the reported pairs,
    # labelled by their smallest id
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    label = dict(clusters)
    want = {x: find(x) for x in list(parent)}
    if label != want:
        problems.append(f"clusters differ from the components of the pairs ({len(label)} vs {len(want)} ids)")
    split = [f for f in corpus.families if len({label.get(i) for i in f}) != 1 or f[0] not in label]
    if split:
        problems.append(f"{len(split)} planted families not in one cluster, e.g. {split[0]}")

    members: dict[int, list[int]] = {}
    for i, c in label.items():
        members.setdefault(c, []).append(i)
    kept: dict[int, list[int]] = {}
    for doc, c, _, keep in survivors:
        if keep:
            kept.setdefault(c, []).append(doc)
    wrong = []
    for c, ids in members.items():
        best = max(ids, key=lambda i: (len(text[i]), -i))
        if kept.get(c) != [best]:
            wrong.append(c)
    if wrong or set(kept) - set(members):
        problems.append(f"{len(wrong)} clusters without exactly one longest survivor, e.g. {wrong[:1]}")
    return problems
