"""Output checks against the planted truth.

Pair metrics use pair counting over the (planted cluster, reported cluster)
contingency table, so flood groups of hundreds of docs cost no pair sets:
pairs in both = sum over cells of C(n, 2). Planted boilerplate spans are
written in an alphabet of their own (``SPAN_CHARS``), so the span bytes a
rewrite left behind are counted by alphabet alone.
"""

from __future__ import annotations

import re
import string
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_WORD = re.compile(r"\w+")
SPAN_CHARS = string.ascii_uppercase + "_"  # absent from make_web_pages text
_SPAN = re.compile(f"[{SPAN_CHARS}]")


@dataclass
class CheckResult:
    ok: bool
    reasons: list[str]
    scores: dict[str, float] = field(default_factory=dict)


def _pairs(counts: np.ndarray) -> int:
    return int((counts * (counts - 1) // 2).sum())


def pair_scores(truth: np.ndarray, reported: np.ndarray) -> tuple[float, float]:
    """(recall, precision) of reported duplicate pairs vs planted pairs;
    ``truth`` and ``reported`` are per-doc cluster labels."""
    df = pd.DataFrame({"t": truth, "r": reported})
    both = _pairs(df.groupby(["t", "r"]).size().to_numpy())
    planted = _pairs(df.groupby("t").size().to_numpy())
    found = _pairs(df.groupby("r").size().to_numpy())
    recall = both / planted if planted else 1.0
    precision = both / found if found else 1.0
    return recall, precision


def eligible_ids(texts: list[str], min_length: int) -> np.ndarray:
    """Ids of the docs the program clusters: MinHash drops docs with fewer
    than ``min_length`` tokens before fingerprinting."""
    return np.array(
        [i for i, t in enumerate(texts) if len(_WORD.findall(t)) >= min_length], dtype=np.int64
    )


def _dupes(ids: np.ndarray) -> int:
    return int(len(ids) - len(np.unique(ids)))


def _id_reasons(tables: dict[str, np.ndarray], expected: np.ndarray) -> list[str]:
    reasons = []
    for name, ids in tables.items():
        if _dupes(ids):
            reasons.append(f"{_dupes(ids)} duplicated ids in {name}")
        if len(np.setdiff1d(ids, expected)):
            reasons.append(f"{len(np.setdiff1d(ids, expected))} unexpected ids in {name}")
    return reasons


def _reported_labels(n: int, cluster_ids: np.ndarray, cluster_labels: np.ndarray) -> np.ndarray:
    """Per-doc reported cluster: the clusters table's label, else the doc's own id."""
    reported = np.arange(n, dtype=np.int64)
    known = (cluster_ids >= 0) & (cluster_ids < n)
    reported[cluster_ids[known]] = cluster_labels[known]
    return reported


def check_clusters(
    labels: list[int],
    expected: np.ndarray,
    kept: np.ndarray,
    cluster_ids: np.ndarray,
    cluster_labels: np.ndarray,
    min_recall: float,
) -> CheckResult:
    """Check one MinHash pass against ``run_pipeline``'s output contract:
    the data table (``kept``) holds the cluster representatives, the
    clusters table (``cluster_ids`` -> ``cluster_labels``) every member of a
    duplicate cluster, root included. Together they cover the ``expected``
    ids exactly once each, and the planted pairs are found with recall of
    at least ``min_recall``."""
    reasons = _id_reasons({"data": kept, "clusters": cluster_ids}, expected)
    roots = cluster_ids[cluster_ids == cluster_labels]
    if len(np.setdiff1d(roots, kept)):
        reasons.append("cluster roots missing from data")
    if len(np.setdiff1d(np.intersect1d(kept, cluster_ids), roots)):
        reasons.append("non-root cluster members kept in data")
    missing = np.setdiff1d(expected, np.union1d(kept, cluster_ids))
    if len(missing):
        reasons.append(f"{len(missing)} input ids missing")
    known = np.isin(cluster_ids, expected)  # unexpected ids are reported above
    reported = _reported_labels(len(labels), cluster_ids[known], cluster_labels[known])
    recall, precision = pair_scores(np.asarray(labels)[expected], reported[expected])
    if recall < min_recall:
        reasons.append(f"pair_recall {recall:.4f} < {min_recall}")
    return CheckResult(not reasons, reasons, {"pair_recall": recall, "pair_precision": precision})


def check_simhash(
    labels: list[int], kept: np.ndarray, cluster_ids: np.ndarray, cluster_labels: np.ndarray
) -> CheckResult:
    """Check one SimHash pass against ``run_pipeline``'s output contract:
    the data table holds the docs never flagged duplicate, the clusters
    table every doc whose cluster is not itself. No id is in both or twice
    in one, and every id is an input id. Cluster roots are in neither
    table, so coverage is not checked; pair scores are reported, not
    gated."""
    expected = np.arange(len(labels), dtype=np.int64)
    reasons = _id_reasons({"data": kept, "clusters": cluster_ids}, expected)
    if len(np.intersect1d(kept, cluster_ids)):
        reasons.append("cluster members kept in data")
    reported = _reported_labels(len(labels), cluster_ids, cluster_labels)
    recall, precision = pair_scores(np.asarray(labels), reported)
    return CheckResult(not reasons, reasons, {"pair_recall": recall, "pair_precision": precision})


def span_bytes(texts) -> int:
    return sum(len(_SPAN.findall(t)) for t in texts)


def check_rewrite(
    before: list[str], out_ids: np.ndarray, out_texts: list[str], min_span_recall: float
) -> CheckResult:
    """Check one suffix-dedup pass: each output id is an input id and
    appears once, and the share of planted span bytes removed
    (``span_recall``) is at least ``min_span_recall``. Docs rewritten to
    nothing are dropped from the output; their bytes count as removed."""
    expected = np.arange(len(before), dtype=np.int64)
    reasons = _id_reasons({"data": out_ids}, expected)
    planted = span_bytes(before)
    recall = 1 - span_bytes(out_texts) / planted if planted else 1.0
    if recall < min_span_recall:
        reasons.append(f"span_recall {recall:.4f} < {min_span_recall}")
    removed = sum(len(t.encode()) for t in before) - sum(len(t.encode()) for t in out_texts)
    return CheckResult(not reasons, reasons, {"span_recall": recall, "removed_bytes": removed})
