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

Callers: :func:`reduce_tile` runs the kernel on one tile's rows in
``order_col`` order (the FIXTURES.md §5 total-order contract replacing the
reference's unspecified DB order). It is the LOD reduce of
``encode.tile_members`` (the export's per-tile encode on both plans, the
one-task export and the append's re-encode) and of stage A of the hot
tiles (``skew.stage_a_reduce``).

Contract of :func:`minibatch_kmeans_labels`: for a seed, the same labels
for every input, so the same instances represent a tile and the content
bytes never move. ``tests/kmeans_oracle.py`` keeps the plain loop whose
labels (and centers, bit for bit) the vectorized body reproduces; the
body relies on these float-order rules of numpy 1.26:

* ``np.sum(axis=-1)`` over a contiguous row adds fewer than 8 elements
  from the left and more in its pairwise order; :func:`_dim_sum` adds
  per-dimension columns in that same order (the k-means++ distances, the
  batch distances and the center-shift norms).
* ``mean(axis=0)`` of a cluster's batch rows adds them in row order from
  0, as ``np.add.at`` does, except a one-column block of 8 or more rows,
  which numpy adds pairwise (:func:`_cluster_means`).
* ``Generator.choice(n, p=p)`` draws ``cdf = p.cumsum(); cdf /= cdf[-1];
  cdf.searchsorted(random(), side="right")``; the k-means++ step does
  exactly that (:func:`_choice`; a test guards it against a numpy
  upgrade).
* an unmoved center's shift is exactly 0, so the mean shift is the mean
  of a zero vector with the moved centers' norms scattered in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: elements of one (rows x k) temporary of the final assignment: 1 MiB of
#: float64, whatever k is. The append's driver re-encode runs the
#: assignment in the driver process, so this bounds driver peak RSS
#: (one 2,500-row tile at k=300: +5 MB, against +14 MB at 2M elements).
_ASSIGN_CHUNK_ELEMENTS = 131_072


def _sq_dists(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared euclidean distances between ``a`` and ``b``, which hold the
    dimension on their FIRST axis and broadcast over the rest; bit for bit
    what ``np.sum((a - b) ** 2, axis=-1)`` gives with the dimension last
    (:func:`_dim_sum`), in one array op per dimension instead of one
    inner loop per row."""
    diff = a - b
    diff *= diff
    return _dim_sum(diff)


def _dim_sum(terms: np.ndarray) -> np.ndarray:
    """``terms`` summed over its first axis in the order numpy's
    ``np.sum(axis=-1)`` adds a contiguous row (its ``pairwise_sum``):
    under 8 elements from the left; up to 128 as 8 running sums combined
    as a tree, then the tail from the left; longer rows halved at a
    multiple of 8 first."""
    n = len(terms)
    if n > 128:
        half = n // 2 - (n // 2) % 8
        return _dim_sum(terms[:half]) + _dim_sum(terms[half:])
    if n < 8:
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc
    r = list(terms[:8])
    tail = n - n % 8
    for i in range(8, tail, 8):
        r = [a + t for a, t in zip(r, terms[i : i + 8])]
    acc = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]))
    for t in terms[tail:]:
        acc = acc + t
    return acc


def _choice(rng: np.random.Generator, p: np.ndarray) -> int:
    """The index ``rng.choice(len(p), p=p)`` draws, from the same single
    ``random()``, without its argument checks (numpy 1.26's code)."""
    cdf = p.cumsum()
    cdf /= cdf[-1]
    return cdf.searchsorted(rng.random(), side="right")


def _cluster_means(batch: np.ndarray, labels: np.ndarray, moved: np.ndarray,
                   sizes: np.ndarray) -> np.ndarray:
    """Mean of the ``batch`` rows of each label in ``moved`` (``sizes``
    rows each), bit for bit as ``batch[labels == j].mean(axis=0)``: numpy
    adds a block's rows from 0 in row order, as ``np.add.at`` does, except
    8 or more rows of one column, which it adds pairwise; such a cluster
    (at most one in a batch of 10) is averaged by numpy itself."""
    sums = np.zeros((moved[-1] + 1, batch.shape[1]))
    np.add.at(sums, labels, batch)
    means = sums[moved] / sizes[:, None]
    for i in np.flatnonzero(sizes >= 8):
        means[i] = batch[labels == moved[i]].mean(axis=0)
    return means


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
    The float-order rules that keep these labels fixed are in the module
    docstring; ``tests/kmeans_oracle.py`` holds the loop they equal.
    """
    n = points.shape[0]
    if n <= k:
        return np.arange(n)
    rng = np.random.default_rng(seed)
    pts = points.astype(np.float64)

    # --- k-means++ init on an init batch (InitializationBatchSize = 3k) ---
    init_n = min(n, 3 * k)
    init = pts[rng.choice(n, size=init_n, replace=False)]
    init_t = init.T.copy()
    centers = np.empty((k, pts.shape[1]))
    centers[0] = init[rng.integers(init_n)]
    d2 = _sq_dists(init_t, centers[0][:, None])
    for c in range(1, k):
        total = d2.sum()
        p = d2 / total if total > 0 else np.full(init_n, 1.0 / init_n)
        centers[c] = init[_choice(rng, p)]
        d2 = np.minimum(d2, _sq_dists(init_t, centers[c][:, None]))

    # --- mini-batch updates, centers held as (d, k) ---
    ct = centers.T.copy()
    counts = np.zeros(k)
    for _ in range(max_iterations):
        batch = pts[rng.integers(0, n, size=batch_size)]
        # nearest center per batch point
        labels = _sq_dists(batch.T[:, :, None], ct[:, None, :]).argmin(axis=1)
        sizes = np.bincount(labels, minlength=k)
        moved = np.flatnonzero(sizes)
        sizes = sizes[moved]
        counts[moved] += sizes
        eta = sizes / counts[moved]
        old = ct[:, moved]
        new = (1 - eta) * old + eta * _cluster_means(batch, labels, moved, sizes).T
        ct[:, moved] = new
        # an unmoved center's shift is exactly 0: scatter the moved norms
        shift = np.zeros(k)
        shift[moved] = np.sqrt(_sq_dists(new, old))
        if np.mean(shift) < tolerance:
            break
    # C order, as the loop held them: the assignment's matmul sees the
    # same memory layout, so BLAS adds its dot products in the same order
    centers = ct.T.copy()

    # --- final assignment (chunked to bound memory on hot tiles) ---
    labels = np.empty(n, dtype=np.int64)
    chunk = max(1, _ASSIGN_CHUNK_ELEMENTS // max(k, 1))
    center_sq = np.sum(centers**2, axis=1)[None, :]
    for s in range(0, n, chunk):
        block = pts[s : s + chunk]
        d = np.sum(block**2, axis=1)[:, None] - 2.0 * block @ centers.T + center_sq
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
