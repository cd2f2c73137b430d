"""The workloads: corpus, pipeline configs and the output checks.

Sizes are set so a whole run (set-up, warm-up, timed passes) stays near a
minute at local[2] on a 4-core box; see README.md.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import checks
import corpus as corpora
from text_dedup_spark.config import Config
from text_dedup_spark.operators.ids import INDEX_COL

MIN_LENGTH = 5
MIN_RECALL = 0.99  # BASELINE.json's dup-pair recall floor
MIN_SPAN_RECALL = 0.99  # every planted span is a >= 100-byte repeat
SPAN_DOCS = 1_500  # docs in the span corpus of the SimHash and suffix passes


def _config(algorithm: str, data: Path, out: Path) -> Config:
    cfg = Config()
    cfg.input.read_arguments = {"path": str(data)}
    cfg.algorithm.algorithm_name, cfg.algorithm.index_column = algorithm, corpora.ID_COL
    cfg.algorithm.min_length = MIN_LENGTH
    cfg.output.output_dir = str(out)
    return cfg


def minhash_config(data: Path, out: Path, profile: str) -> Config:
    """``configs/minhash.toml``'s algorithm settings under ``profile``
    ("scale": salted star edges behind the contraction gate). No
    false-positive verification: see README.md for why."""
    cfg = _config("minhash", data, out)
    a = cfg.algorithm
    a.num_perm, a.ngram_size, a.bands, a.rows = 200, 2, 50, 4
    a.threshold, a.seed = 0.5, 42
    a.profile = profile
    cfg.output.save_clusters = True
    cfg.output.keep_cluster_column = True
    return cfg


def simhash_config(data: Path, out: Path) -> Config:
    """``configs/simhash.toml``: verified, parity profile."""
    cfg = _config("simhash", data, out)
    a = cfg.algorithm
    a.f, a.bit_diff, a.num_bucket, a.ngram_size = 64, 3, 4, 3
    a.check_false_positive, a.jaccard_threshold, a.seed = True, 0.5, 42
    cfg.output.save_clusters = True
    return cfg


def suffix_config(data: Path, out: Path) -> Config:
    """``configs/suffix_array.toml``."""
    cfg = _config("suffix_array", data, out)
    cfg.algorithm.length_threshold, cfg.algorithm.merge_strategy = 100, "longest"
    return cfg


@dataclass
class Workload:
    make_corpus: Callable[[int], corpora.Corpus]
    config: Callable[[Path, Path], Config]
    # full-corpus warm-up passes: enough for the pass CPU to stop falling
    # (README.md)
    warm_passes: int


WORKLOADS = {
    "web-minhash": Workload(
        lambda seed: corpora.web_pages(12_000, seed),
        lambda data, out: minhash_config(data, out, "parity"),
        warm_passes=3,
    ),
    "flood-salted": Workload(
        lambda seed: corpora.flood(2_000, 8_000, seed),
        lambda data, out: minhash_config(data, out, "scale"),
        warm_passes=5,
    ),
}


def check_pass(corpus: corpora.Corpus, cfg: Config) -> checks.CheckResult:
    """Read what the pass wrote and check it against the planted truth."""
    out = Path(cfg.output.output_dir)
    data = pq.read_table(out / "data")
    if cfg.algorithm.algorithm_name == "suffix_array":
        return checks.check_rewrite(
            corpus.texts, _ids(data, corpora.ID_COL),
            data.column(corpora.TEXT_COL).to_pylist(), MIN_SPAN_RECALL,
        )
    clusters = pq.read_table(out / "clusters")
    if cfg.algorithm.algorithm_name == "simhash":
        return checks.check_simhash(
            corpus.labels, _ids(data, INDEX_COL), _ids(clusters, "id"), _ids(clusters, "cluster")
        )
    return checks.check_clusters(
        corpus.labels,
        checks.eligible_ids(corpus.texts, MIN_LENGTH),
        _ids(data, INDEX_COL),
        _ids(clusters, "id"),
        _ids(clusters, "cluster"),
        MIN_RECALL,
    )


def _ids(table, col: str) -> np.ndarray:
    return table.column(col).to_numpy().astype(np.int64)
