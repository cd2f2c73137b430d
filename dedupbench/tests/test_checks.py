"""The output check must fail corrupted clusterings and pass the true one.

    python3 -m pytest dedupbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path[:0] = [str(Path(__file__).resolve().parents[1]), str(Path(__file__).resolve().parents[2])]

import checks  # noqa: E402
import corpus as corpora  # noqa: E402

# docs 0-2 and 4-5 are planted clusters; 3 and 6 are singletons
LABELS = [0, 0, 0, 3, 4, 4, 6]
N = len(LABELS)
ALL = np.arange(N, dtype=np.int64)


def minhash_outputs(labels):
    """What run_pipeline writes for a MinHash clustering: representatives
    in data, every member of a multi-doc cluster in clusters."""
    labels = np.asarray(labels)
    sizes = {lab: int((labels == lab).sum()) for lab in set(labels.tolist())}
    in_cluster = np.array([sizes[lab] > 1 for lab in labels])
    kept = ALL[labels == ALL]
    return kept, ALL[in_cluster], labels[in_cluster]


def check(kept, ids, labels, min_recall=0.99):
    return checks.check_clusters(LABELS, ALL, kept, ids, labels, min_recall)


def test_true_clustering_passes():
    result = check(*minhash_outputs(LABELS))
    assert result.ok, result.reasons
    assert result.scores == {"pair_recall": 1.0, "pair_precision": 1.0}


def test_split_cluster_fails_recall():
    result = check(*minhash_outputs([0, 0, 2, 3, 4, 4, 6]))
    assert not result.ok
    assert result.scores["pair_recall"] == pytest.approx(2 / 4)


def test_merged_clusters_lower_precision():
    result = check(*minhash_outputs([0, 0, 0, 0, 0, 0, 6]))
    assert result.scores["pair_recall"] == 1.0
    assert result.scores["pair_precision"] == pytest.approx(4 / 15)


def test_missing_id_fails():
    kept, ids, labels = minhash_outputs(LABELS)
    result = check(kept[kept != 3], ids, labels)
    assert not result.ok and any("missing" in r for r in result.reasons)


def test_duplicated_id_fails():
    kept, ids, labels = minhash_outputs(LABELS)
    result = check(np.append(kept, 6), ids, labels)
    assert not result.ok and any("duplicated" in r for r in result.reasons)


def test_simhash_member_kept_in_data_fails():
    # SimHash output: data holds never-flagged docs, clusters the non-roots
    ids, labels = np.array([1, 2, 5]), np.array([0, 0, 4])
    assert checks.check_simhash(LABELS, np.array([3, 6]), ids, labels).ok
    result = checks.check_simhash(LABELS, np.array([2, 3, 6]), ids, labels)
    assert not result.ok and any("kept in data" in r for r in result.reasons)


SPAN = "ABC_DEF_" * 20


def test_rewrite_scores_span_recall():
    before = [f"a b {SPAN} c", f"{SPAN} d e", "f g"]
    result = checks.check_rewrite(before, np.array([0, 1, 2]), ["a b  c", " d e", "f g"], 0.99)
    assert result.ok, result.reasons
    assert result.scores["span_recall"] == 1.0
    assert result.scores["removed_bytes"] == 2 * len(SPAN)


def test_rewrite_keeping_a_span_fails():
    before = [f"a b {SPAN} c", f"{SPAN} d e"]
    result = checks.check_rewrite(before, np.array([0, 1]), ["a b  c", f"{SPAN} d e"], 0.99)
    assert not result.ok and result.scores["span_recall"] == pytest.approx(0.5)


def test_rewrite_duplicated_id_fails():
    result = checks.check_rewrite(["x", "y"], np.array([0, 0]), ["x", "x"], 0.99)
    assert not result.ok and any("duplicated" in r for r in result.reasons)


def test_span_corpus_is_seeded_and_planted():
    a, b = corpora.with_spans(300, seed=7), corpora.with_spans(300, seed=7)
    assert a.texts == b.texts
    assert checks.span_bytes(a.texts) > 0
    assert checks.span_bytes(corpora.web_pages(300, seed=7).texts) == 0


def test_corpora_are_seeded():
    a, b = corpora.flood(200, 300, seed=7), corpora.flood(200, 300, seed=7)
    assert a.texts == b.texts and a.labels == b.labels
    assert corpora.flood(200, 300, seed=8).texts != a.texts


def test_eligible_ids_drop_short_docs():
    assert checks.eligible_ids(["a b c d e", "a b c d", "x-y z w v u"], 5).tolist() == [0, 2]
