"""Seeded synthetic inputs: the corpus, the query pools and the mutation
stream, plus the exact ground truth over the live set.

The corpus is an *overlapping* Gaussian mixture in a low-dimensional
latent space (64 clusters whose centres spread less than their unit
within-cluster noise), projected into the vector space with a small
ambient noise, as real embeddings have a low intrinsic dimension. The
overlap spreads a vector's nearest neighbours over several IVF cells, so
recall keeps rising as nprobe widens; a well-separated mixture puts
every neighbour in one cell and flattens the recall curve.

Vector ids equal their row in ``vecs``: a replaced id overwrites its
row, a new id appends one, a deleted id clears its ``alive`` bit. The
exact top-k therefore always ranges over the current live set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SCHEMA = "vec_id long, embedding array<float>, label int"

LATENT = 16
CLUSTERS = 64
# centre spread relative to the unit within-cluster noise; below 1 the
# clusters overlap
CENTER_SCALE = 0.5
AMBIENT_NOISE = 0.1
NUM_LABELS = 10


class Corpus:
    def __init__(self, seed: int, n: int, dim: int = 64):
        self.rng = np.random.default_rng(seed)
        self.dim = dim
        self.centers = self.rng.standard_normal((CLUSTERS, LATENT)) * CENTER_SCALE
        self.project = self.rng.standard_normal((LATENT, dim)) * (2.0 / np.sqrt(LATENT))
        self.vecs = self._draw(n).astype(np.float32)
        self.labels = self.rng.integers(0, NUM_LABELS, n).astype(np.int32)
        self.alive = np.ones(n, dtype=bool)

    def _draw(self, m: int) -> np.ndarray:
        which = self.rng.integers(0, CLUSTERS, m)
        z = self.centers[which] + self.rng.standard_normal(self.centers[which].shape)
        noise = self.rng.standard_normal((m, self.dim)) * AMBIENT_NOISE
        return z @ self.project + noise

    @property
    def live(self) -> int:
        return int(self.alive.sum())

    def queries(self, m: int) -> np.ndarray:
        """Fresh draws from the mixture (not corpus members)."""
        return self._draw(m).astype(np.float32).astype(np.float64)

    def query_labels(self, m: int) -> np.ndarray:
        return self.rng.integers(0, NUM_LABELS, m).astype(np.int32)

    def frame(self, ids=None) -> pd.DataFrame:
        ids = np.flatnonzero(self.alive) if ids is None else np.asarray(ids)
        return pd.DataFrame(
            {
                "vec_id": ids.astype(np.int64),
                "embedding": list(self.vecs[ids]),
                "label": self.labels[ids],
            }
        )

    def mutation(self, n_upsert: int, n_delete: int) -> dict:
        """One batch of writes: half of the upserted ids replace live
        ids, half are new; the deleted ids are live and not upserted."""
        live_ids = np.flatnonzero(self.alive)
        replace = self.rng.choice(live_ids, n_upsert // 2, replace=False)
        start = len(self.vecs)
        new = np.arange(start, start + n_upsert - len(replace))
        rest = np.setdiff1d(live_ids, replace)
        victims = np.sort(self.rng.choice(rest, n_delete, replace=False))
        ids = np.concatenate([np.sort(replace), new])
        return {
            "ids": ids,
            "vecs": self._draw(len(ids)).astype(np.float32),
            "labels": self.rng.integers(0, NUM_LABELS, len(ids)).astype(np.int32),
            "delete": victims,
        }

    def upsert_frame(self, m: dict) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "vec_id": m["ids"].astype(np.int64),
                "embedding": list(m["vecs"]),
                "label": m["labels"],
            }
        )

    def apply_upsert(self, m: dict) -> None:
        grow = int(m["ids"].max()) + 1 - len(self.vecs)
        if grow > 0:
            self.vecs = np.concatenate(
                [self.vecs, np.zeros((grow, self.dim), np.float32)]
            )
            self.labels = np.concatenate([self.labels, np.zeros(grow, np.int32)])
            self.alive = np.concatenate([self.alive, np.zeros(grow, bool)])
        self.vecs[m["ids"]] = m["vecs"]
        self.labels[m["ids"]] = m["labels"]
        self.alive[m["ids"]] = True

    def apply_delete(self, m: dict) -> None:
        self.alive[m["delete"]] = False

    def exact_topk(self, queries: np.ndarray, k: int, labels=None) -> np.ndarray:
        """(Q, k) ids of the exact nearest live vectors by squared L2,
        ties by id; ``labels`` restricts query i to label labels[i]."""
        ids = np.flatnonzero(self.alive)
        v = self.vecs[ids].astype(np.float64)
        vn = (v * v).sum(axis=1)
        out = np.empty((len(queries), k), dtype=np.int64)
        for i, q in enumerate(np.asarray(queries, dtype=np.float64)):
            d = vn - 2.0 * (v @ q)
            cand = np.arange(len(ids))
            if labels is not None:
                cand = np.flatnonzero(self.labels[ids] == labels[i])
            # every candidate tied with the k-th distance, then (d, id)
            kth = np.partition(d[cand], k - 1)[k - 1]
            cand = cand[d[cand] <= kth]
            top = cand[np.lexsort((ids[cand], d[cand]))[:k]]
            out[i] = ids[top]
        return out
