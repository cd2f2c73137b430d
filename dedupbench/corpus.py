"""Seeded corpora with planted duplicate truth.

Every corpus is a pure function of ``(n_docs, seed)``. The program under
test only ever sees the parquet files written by ``write_parquet``; the truth
stays in this process.

Three shapes:

- ``web_pages``: ``make_web_pages`` pages whose near-duplicate members are
  re-planted at 1-6% word substitutions. ``make_web_pages`` mutates up to 20%
  of the words, which straddles every MinHash threshold (bigram shingles at
  0.5: planted-pair recall 0.885 on 5k pages; unigrams at 0.5: precision
  0.23). Re-planting puts every planted pair clearly above the threshold
  and leaves the unique pages clearly below it, so ``pair_recall`` checks
  the program, not the tail of the LSH S-curve.
- ``flood``: ``web_pages`` plus a boilerplate flood: short templates in
  Zipf-sized groups, each group holding exact copies and variants with 1-6
  unique tail tokens. One group is one planted cluster.
- ``with_spans``: ``web_pages`` with boilerplate spans planted into groups
  of docs, for suffix-array dedup. Spans are written in ``SPAN_CHARS``,
  which the pages never use.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from checks import SPAN_CHARS
from text_dedup_spark.sources.web_pages import make_web_pages

ID_COL = "doc_id"
TEXT_COL = "text"
MAX_SUB_RATE = 0.06  # share of a near-dup's words substituted, at most
N_TEMPLATES = 40  # boilerplate templates in a flood
N_SPANS = 30  # boilerplate span templates in a span corpus


@dataclass
class Corpus:
    texts: list[str]
    labels: list[int]  # planted cluster label per doc (singletons: own id)

    def __len__(self) -> int:
        return len(self.texts)


def _word_pool(texts: list[str]) -> np.ndarray:
    return np.array(sorted({w for t in texts[:200] for w in t.split()}))


def _mutate(words: list[str], n_sub: int, pool: np.ndarray, rng) -> str:
    out = list(words)
    for pos in rng.choice(len(out), size=min(n_sub, len(out)), replace=False):
        out[pos] = str(pool[rng.integers(len(pool))])
    return " ".join(out)


def web_pages(n_docs: int, seed: int) -> Corpus:
    """``make_web_pages`` with near-duplicate members re-planted from the
    cluster's first member, each with 1% to ``MAX_SUB_RATE`` of its words
    substituted. Exact-duplicate groups, unique pages and short pages are
    kept as generated."""
    base = make_web_pages(n_docs=n_docs, seed=seed)
    texts = base.pages[TEXT_COL].tolist()
    labels = base.truth["cluster_label"].tolist()
    rng = np.random.default_rng(seed)
    pool = _word_pool(texts)
    groups: dict[int, list[int]] = defaultdict(list)
    for i, label in enumerate(labels):
        groups[label].append(i)
    for members in groups.values():
        if len(members) < 2 or all(texts[m] == texts[members[0]] for m in members):
            continue
        words = texts[members[0]].split()
        for m in members[1:]:
            n_sub = max(1, int(len(words) * rng.uniform(0.01, MAX_SUB_RATE)))
            texts[m] = _mutate(words, n_sub, pool, rng)
    return Corpus(texts=texts, labels=labels)


def flood(n_web: int, n_flood: int, seed: int) -> Corpus:
    """``web_pages(n_web)`` plus ``n_flood`` boilerplate docs, shuffled
    together: ``N_TEMPLATES`` short templates (25-45 words) in
    Zipf(1.1)-sized groups. Within a group half the docs are exact copies
    and half append 1-6 tail tokens unique to the doc (bigram Jaccard to
    the template >= 0.8, so every group is one cluster at threshold 0.5)."""
    corpus = web_pages(n_web, seed)
    rng = np.random.default_rng(seed + 1)
    pool = _word_pool(corpus.texts)
    weights = 1.0 / np.arange(1, N_TEMPLATES + 1) ** 1.1
    sizes = np.maximum(2, np.floor(weights / weights.sum() * n_flood)).astype(int)
    start = len(corpus)
    for k, size in enumerate(sizes):
        template = " ".join(pool[rng.integers(len(pool), size=int(rng.integers(25, 46)))])
        label = len(corpus.texts)
        for j in range(size):
            if j % 2 == 0:
                text = template
            else:
                tail = " ".join(f"u{seed}x{k}x{j}x{t}" for t in range(int(rng.integers(1, 7))))
                text = f"{template} {tail}"
            corpus.texts.append(text)
            corpus.labels.append(label)
        if len(corpus.texts) - start >= n_flood:
            break
    order = rng.permutation(len(corpus))
    return Corpus([corpus.texts[i] for i in order], [corpus.labels[i] for i in order])


def with_spans(n_docs: int, seed: int, share: float = 0.3) -> Corpus:
    """``web_pages(n_docs)`` with ``N_SPANS`` boilerplate spans of 120-300
    chars, each inserted at a word boundary of a Zipf(1.1)-sized group of
    at least 2 docs (about ``share`` x ``n_docs`` insertions in all).
    Suffix-array dedup removes every copy of a range repeated at >= 100
    bytes, so every planted span byte should go. Labels stay the pages'."""
    corpus = web_pages(n_docs, seed)
    rng = np.random.default_rng(seed + 2)
    letters = np.array(list(SPAN_CHARS[:-1]))
    weights = 1.0 / np.arange(1, N_SPANS + 1) ** 1.1
    sizes = np.maximum(2, np.floor(weights / weights.sum() * share * n_docs)).astype(int)
    for size in sizes:
        words: list[str] = []
        n_chars = int(rng.integers(120, 301))
        while len("_".join(words)) < n_chars:
            words.append("".join(rng.choice(letters, size=int(rng.integers(3, 10)))))
        span = "_".join(words)
        for d in rng.choice(n_docs, size=min(int(size), n_docs), replace=False):
            doc = corpus.texts[d].split(" ")
            doc.insert(int(rng.integers(len(doc) + 1)), span)
            corpus.texts[d] = " ".join(doc)
    return corpus


def head(corpus: Corpus, n_docs: int) -> Corpus:
    """The first ``n_docs`` docs, with their planted labels."""
    return Corpus(corpus.texts[:n_docs], corpus.labels[:n_docs])


def write_parquet(corpus: Corpus, path: Path, n_files: int) -> None:
    """Write ``(doc_id, text)`` as ``n_files`` parquet files, so the scan
    yields ``n_files`` input partitions like a multi-file dataset does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pandas(
        pd.DataFrame({ID_COL: np.arange(len(corpus), dtype=np.int64), TEXT_COL: corpus.texts}),
        preserve_index=False,
    )
    per = -(-len(corpus) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * per, per), path / f"part-{i:03d}.parquet")
