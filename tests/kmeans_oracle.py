"""Frozen loop version of ``clustering.minibatch_kmeans_labels``.

The package's kernel computes the same labels with vectorized numpy and
must keep returning exactly these labels for every input and seed: a
changed label changes which instance represents a cluster, and so the
content bytes of every clustered export. ``tests/test_clustering.py``
compares the two. Do not edit this body; it is the reference.
"""

from __future__ import annotations

import numpy as np

_ASSIGN_CHUNK_ELEMENTS = 131_072


def minibatch_kmeans_labels_loop(
    points: np.ndarray,
    k: int,
    batch_size: int = 10,
    max_iterations: int = 100,
    tolerance: float = 1e-3,
    seed: int = 42,
) -> np.ndarray:
    n = points.shape[0]
    if n <= k:
        return np.arange(n)
    rng = np.random.default_rng(seed)
    pts = points.astype(np.float64)

    # --- k-means++ init on an init batch (InitializationBatchSize = 3k) ---
    init_n = min(n, 3 * k)
    init_idx = rng.choice(n, size=init_n, replace=False)
    init = pts[init_idx]
    centers = np.empty((k, pts.shape[1]))
    centers[0] = init[rng.integers(init_n)]
    d2 = np.sum((init - centers[0]) ** 2, axis=1)
    for c in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(init_n, 1.0 / init_n)
        centers[c] = init[rng.choice(init_n, p=probs)]
        d2 = np.minimum(d2, np.sum((init - centers[c]) ** 2, axis=1))

    # --- mini-batch updates ---
    counts = np.zeros(k)
    for _ in range(max_iterations):
        batch = pts[rng.integers(0, n, size=batch_size)]
        # nearest center per batch point
        dists = np.sum((batch[:, None, :] - centers[None, :, :]) ** 2, axis=2)
        labels = np.argmin(dists, axis=1)
        old = centers.copy()
        for j in np.unique(labels):
            members = batch[labels == j]
            counts[j] += len(members)
            eta = len(members) / counts[j]
            centers[j] = (1 - eta) * centers[j] + eta * members.mean(axis=0)
        if np.mean(np.linalg.norm(centers - old, axis=1)) < tolerance:
            break

    # --- final assignment (chunked to bound memory on hot tiles) ---
    labels = np.empty(n, dtype=np.int64)
    chunk = max(1, _ASSIGN_CHUNK_ELEMENTS // max(k, 1))
    for s in range(0, n, chunk):
        block = pts[s : s + chunk]
        d = (
            np.sum(block**2, axis=1)[:, None]
            - 2.0 * block @ centers.T
            + np.sum(centers**2, axis=1)[None, :]
        )
        labels[s : s + chunk] = np.argmin(d, axis=1)

    # --- guarantee exactly k non-empty clusters (count invariant) ---
    cur_counts = np.bincount(labels, minlength=k)
    empty = np.flatnonzero(cur_counts == 0)
    if len(empty):
        # claim points farthest from their centers, never emptying a cluster
        assigned_d = np.sum((pts - centers[labels]) ** 2, axis=1)
        order = iter(np.argsort(-assigned_d))
        for e in empty:
            for cand in order:
                c = labels[cand]
                if cur_counts[c] > 1:
                    labels[cand] = e
                    cur_counts[c] -= 1
                    cur_counts[e] += 1
                    break
    return labels
