"""The shared numpy per-batch top-k kernel of the ANN serving paths
(``ivf_search``, ``ivf_index_search``, ``pq_adc_topk``,
``sim_ivfpq_topk``), checked batch by batch against a Python sort.
Pure numpy: no Spark session."""

from __future__ import annotations

import numpy as np
import pytest

from parquet_ingestor_spark.operators.similarity import _batch_topk


def _reference(scores, vec_ids, lists, probe, k, largest):
    """Per query index: the probed (score, vec_id) rows sorted best
    first, and the top-k cut of them."""
    out = {}
    for qi in range(scores.shape[1]):
        rows = [
            (float(scores[r, qi]), int(vec_ids[r]))
            for r in range(len(vec_ids))
            if lists is None or lists[r] in probe[qi]
        ]
        rows.sort(key=lambda t: -t[0] if largest else t[0])
        out[qi] = rows
    return out


def _check(scores, vec_ids, lists, probe, k, largest):
    got = _batch_topk(scores, vec_ids, lists, probe, k, largest)
    ref = _reference(scores, vec_ids, lists, probe, k, largest)
    score_of = {
        (qi, int(v)): float(scores[r, qi])
        for qi in range(scores.shape[1])
        for r, v in enumerate(vec_ids)
    }
    for qi, rows in ref.items():
        mine = [(s, v) for q, v, s in got if q == qi]
        want = rows[:k]
        # the same scores (ties at the cut may keep any tied row) ...
        assert sorted(s for s, _ in mine) == sorted(s for s, _ in want)
        # ... each a real, probed, distinct row with its own score
        probed = {v for _, v in rows}
        assert len({v for _, v in mine}) == len(mine)
        for s, v in mine:
            assert v in probed and score_of[(qi, v)] == s
        # with no tie at the cut the rows themselves are the sort's
        if len(rows) <= k or rows[k - 1][0] != rows[k][0]:
            assert {v for _, v in mine} == {v for _, v in want}
    return got


@pytest.mark.parametrize("largest", [True, False])
def test_fewer_than_k_probed_rows_returns_them_all(largest):
    scores = np.array([[0.9, 0.1], [0.5, 0.7], [0.2, 0.3], [0.8, 0.4]])
    vec_ids = np.array([10, 11, 12, 13])
    lists = np.array([0, 1, 1, 2])
    probe = np.array([[1, 5], [2, 6]])
    got = _check(scores, vec_ids, lists, probe, 5, largest)
    assert sorted((q, v) for q, v, _ in got) == [(0, 11), (0, 12), (1, 13)]


@pytest.mark.parametrize("largest", [True, False])
def test_batch_with_no_probed_row_emits_nothing(largest):
    scores = np.arange(12, dtype=np.float64).reshape(4, 3)
    vec_ids = np.array([1, 2, 3, 4])
    lists = np.array([0, 0, 1, 1])
    probe = np.array([[2, 3], [4, 5], [6, 7]])
    assert _check(scores, vec_ids, lists, probe, 2, largest) == []
    # one query probing a present list; the others still emit nothing
    probe[1] = [1, 9]
    got = _check(scores, vec_ids, lists, probe, 2, largest)
    assert {q for q, _, _ in got} == {1}


@pytest.mark.parametrize("largest", [True, False])
def test_exact_ties_keep_the_tied_scores(largest):
    scores = np.array([[1.0], [2.0], [2.0], [2.0], [3.0], [0.0]])
    vec_ids = np.arange(100, 106)
    got = _check(scores, vec_ids, None, None, 3, largest)
    assert len(got) == 3


@pytest.mark.parametrize("largest", [True, False])
@pytest.mark.parametrize("seed", range(20))
def test_random_batches_match_a_python_sort(largest, seed):
    rng = np.random.default_rng(seed)
    n, nq, n_lists = int(rng.integers(1, 40)), int(rng.integers(1, 6)), 6
    # few distinct values, so ties at the cut are common
    scores = rng.integers(0, 5, size=(n, nq)).astype(np.float64)
    vec_ids = rng.permutation(1000)[:n]
    k = int(rng.integers(1, 8))
    if seed % 2:
        _check(scores, vec_ids, None, None, k, largest)
    else:
        lists = rng.integers(0, n_lists, size=n)
        probe = rng.integers(0, n_lists, size=(nq, 2))
        _check(scores, vec_ids, lists, probe, k, largest)
