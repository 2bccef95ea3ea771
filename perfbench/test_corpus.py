"""Tests for the seeded generator and its live-set ground truth (NumPy
only):

    python -m pytest perfbench
"""

import numpy as np

from corpus import Corpus


def brute_topk(c: Corpus, q: np.ndarray, k: int) -> list[int]:
    ids = np.flatnonzero(c.alive)
    d = ((c.vecs[ids].astype(np.float64) - q) ** 2).sum(axis=1)
    return ids[np.lexsort((ids, d))[:k]].tolist()


def test_same_seed_same_inputs():
    a, b = Corpus(7, 500), Corpus(7, 500)
    assert np.array_equal(a.vecs, b.vecs)
    assert np.array_equal(a.queries(5), b.queries(5))
    assert not np.array_equal(a.vecs, Corpus(8, 500).vecs)


def test_mutation_mixes_replaced_and_new_ids():
    c = Corpus(1, 1000)
    m = c.mutation(100, 20)
    assert len(m["ids"]) == 100 and len(set(m["ids"].tolist())) == 100
    assert (m["ids"] < 1000).sum() == 50 and (m["ids"] >= 1000).sum() == 50
    assert not set(m["delete"].tolist()) & set(m["ids"].tolist())


def test_truth_tracks_upserts_and_deletes():
    c = Corpus(3, 2000, dim=8)
    q = c.queries(4)
    for _ in range(3):
        m = c.mutation(200, 50)
        c.apply_upsert(m)
        c.apply_delete(m)
    assert c.live == 2000 + 3 * (100 - 50)
    top = c.exact_topk(q, 10)
    for i in range(len(q)):
        assert top[i].tolist() == brute_topk(c, q[i], 10)
        assert c.alive[top[i]].all()


def test_filtered_truth_respects_label():
    c = Corpus(4, 3000, dim=8)
    q = c.queries(3)
    labels = np.array([0, 5, 9], dtype=np.int32)
    top = c.exact_topk(q, 10, labels=labels)
    for i, lab in enumerate(labels):
        assert (c.labels[top[i]] == lab).all()
