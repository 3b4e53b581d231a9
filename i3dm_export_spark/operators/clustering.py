"""T3: per-tile MiniBatchKMeans LOD reduction (from-scratch numpy).

The reference reduces every over-full clustered tile to exactly
``max_features_per_tile`` representative instances with Accord.NET
MiniBatchKMeans (k=max_features, batchSize=10, MaxIterations=100,
Tolerance=1e-3, InitializationBatchSize=3k; reference
src/TileClustering.cs:12-44) and then keeps the FIRST instance (input
order) per distinct cluster label (src/TileClustering.cs:29-43).

The reference RNG is unseeded (SURVEY.md §7 hazard 3), so its exact members
are non-reproducible even run-to-run; the contract its own test pins is the
*count*: exactly k rows out (tests/Clustering/ClusteringTests.cs:36-37).
This implementation pins a seed for self-reproducibility and guarantees the
count invariant by re-seeding empty clusters from the farthest points.

Spark surface: :func:`cluster_tiles` — ``applyInPandas`` per content tile,
input pre-sorted by ``url`` (the FIXTURES.md §5 total-order contract
replacing the reference's unspecified DB order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: elements of one (rows x k) temporary of the final assignment: 1 MiB of
#: float64, whatever k is. The append's driver re-encode runs the
#: assignment in the driver process, so this bounds driver peak RSS
#: (one 2,500-row tile at k=300: +5 MB, against +14 MB at 2M elements).
_ASSIGN_CHUNK_ELEMENTS = 131_072


def minibatch_kmeans_labels(
    points: np.ndarray,
    k: int,
    batch_size: int = 10,
    max_iterations: int = 100,
    tolerance: float = 1e-3,
    seed: int = 42,
) -> np.ndarray:
    """Labels in [0, k) for ``points`` (n, d); deterministic for a seed.

    Mini-batch k-means per the published algorithm (Sculley 2010, public):
    k-means++ init on an init batch of 3k points, per-center counts as
    learning rates, early stop when the mean center shift < tolerance.
    """
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


def reduce_tile(pdf: pd.DataFrame, k: int, seed: int = 42,
                order_col: str = "url", use_ecef: bool = True) -> pd.DataFrame:
    """Reference reduction: cluster, then first row (stable order) per label,
    stopping at k (src/TileClustering.cs:29-43). Returns exactly
    min(k, n) rows.

    The clustering metric matches the reference's fetch CRS: ECEF meters
    normally (computed in-group from lon/lat with the encoder's float64
    kernel), raw source coordinates under keep_projection
    (``use_ecef=False``)."""
    if len(pdf) <= k:
        return pdf
    pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
    if use_ecef:
        from ..functions.geodesy import wgs84_to_ecef

        pts = wgs84_to_ecef(
            pdf["lon"].to_numpy(np.float64),
            pdf["lat"].to_numpy(np.float64),
            pdf["z"].to_numpy(np.float64),
        )
    else:
        pts = pdf[["lon", "lat", "z"]].to_numpy()
    labels = minibatch_kmeans_labels(pts, k, seed=seed)
    first_per_label = pd.Series(labels, name="_label").to_frame()
    keep_idx = first_per_label.drop_duplicates("_label").index[:k]
    return pdf.loc[keep_idx]


def cluster_tiles(assigned, opts, order_col: str = "url"):
    """Stage-4 LOD pass: reduce every over-full content tile to exactly
    ``max_features_per_tile`` rows via grouped applyInPandas; tiles at or
    under the limit pass through untouched (reference routes only over-full
    tiles through k-means, src/ImplicitTiling.cs:45-47).
    """
    from pyspark.sql import functions as F

    from ..packaging import ensure_shipped

    ensure_shipped(assigned.sparkSession)
    k = opts.max_features_per_tile
    seed = opts.cluster_seed

    counts = assigned.groupBy("level", "x", "y").agg(F.count(F.lit(1)).alias("_n"))
    with_n = assigned.join(F.broadcast(counts), ["level", "x", "y"])
    small = with_n.filter(F.col("_n") <= k).drop("_n")
    hot = with_n.filter(F.col("_n") > k).drop("_n")

    schema = assigned.schema

    use_ecef = not opts.keep_projection

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        return reduce_tile(pdf, k, seed=seed, order_col=order_col,
                           use_ecef=use_ecef)

    reduced = hot.groupBy("level", "x", "y").applyInPandas(_reduce, schema=schema)
    return small.unionByName(reduced)
