"""kNN joins (north_star operator: per-tile kNN clustering for LOD).

Two shapes:

* :func:`knn_per_tile` — the scale path: neighbors found **within each
  tile** via grouped ``applyInPandas`` and a vectorized brute-force
  distance matrix (chunked). Group size is bounded by the tiling invariant
  (<= max_features after LOD reduction), so per-group cost is capped; hot
  tiles are salted upstream. No scipy dependency.

* :func:`knn_global_bruteforce` — exact global kNN for small candidate
  sets, expressed as a pure DataFrame crossJoin + window rank (the
  oracle-checkable surface in __spark_entry__).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def knn_pairs_batch(pts: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact kNN inside one batch: returns (row_idx, neighbor_idx, d2),
    ordered by (row_idx asc, d2 asc, neighbor_idx asc).

    Chunked distance matrix (|x|^2 - 2x.y + |y|^2 via matmul) does the
    SELECTION; the RETURNED d2 is recomputed with the direct
    ``sum((a-b)^2)`` formula — bit-identical to the ANSI-SQL expression
    ``(ax-bx)*(ax-bx)+(ay-by)*(ay-by)`` an oracle engine evaluates, which
    the matmul expansion is not (different FP op order)."""
    n = len(pts)
    k = min(k, n - 1)
    if k <= 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
    # over-select with the fast matmul metric (its low-bit error can
    # misrank the k-th vs (k+1)-th candidate), then settle the final k by
    # exact d2 + neighbor-id tie-break — deterministic and oracle-exact.
    ksel = min(k + 8, n - 1)
    rows, cols = [], []
    chunk = max(1, 4_000_000 // max(n, 1))
    sq = np.sum(pts * pts, axis=1)
    for s in range(0, n, chunk):
        block = pts[s : s + chunk]
        d2 = sq[s : s + chunk, None] - 2.0 * block @ pts.T + sq[None, :]
        np.fill_diagonal(d2[:, s : s + len(block)], np.inf)
        idx = (
            np.argpartition(d2, ksel, axis=1)[:, :ksel]
            if ksel < n - 1
            else np.argsort(d2, axis=1)[:, : n - 1]
        )
        rows.append(np.repeat(np.arange(s, s + len(block)), idx.shape[1]))
        cols.append(idx.ravel())
    r = np.concatenate(rows)
    c = np.concatenate(cols)
    diff = pts[r] - pts[c]
    sq_terms = diff * diff
    d = sq_terms[:, 0].copy()
    for j in range(1, pts.shape[1]):
        d = d + sq_terms[:, j]
    order = np.lexsort((c, d, r))
    r, c, d = r[order], c[order], d[order]
    ncand = len(r) // n  # same candidate count per row after row-major sort
    keep = (np.arange(len(r)) % ncand) < k
    return r[keep], c[keep], d[keep]


def knn_per_tile(
    assigned: DataFrame,
    k: int,
    id_col: str = "url",
    coord_cols=("lon", "lat"),
    tile_cols=("level", "x", "y"),
) -> DataFrame:
    """(tile, id, neighbor_id, rank, d2) for every instance, neighbors drawn
    from the same tile."""
    from ..packaging import ensure_shipped

    ensure_shipped(assigned.sparkSession)
    schema = T.StructType(
        [T.StructField(c, assigned.schema[c].dataType) for c in tile_cols]
        + [
            T.StructField("id", assigned.schema[id_col].dataType),
            T.StructField("neighbor_id", assigned.schema[id_col].dataType),
            T.StructField("rank", T.IntegerType()),
            T.StructField("d2", T.DoubleType()),
        ]
    )
    cc = list(coord_cols)
    tc = list(tile_cols)

    # no type hints: pyspark infers the eval type from them, and a partly
    # annotated (key, pdf) signature makes it warn on every call
    def _knn(key, pdf):
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        pts = pdf[cc].to_numpy(np.float64)
        r, c, d = knn_pairs_batch(pts, k)
        n_out = len(r)
        kk = min(k, max(len(pdf) - 1, 0))
        out = {t: np.repeat(key[i], n_out) for i, t in enumerate(tc)}
        out["id"] = pdf[id_col].to_numpy()[r]
        out["neighbor_id"] = pdf[id_col].to_numpy()[c]
        out["rank"] = (np.arange(n_out) % kk + 1) if kk else np.empty(0, np.int64)
        out["d2"] = d
        return pd.DataFrame(out)

    return assigned.groupBy(*tc).applyInPandas(_knn, schema=schema)


def knn_global_bruteforce(
    points: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "doc_id",
    coord_cols=("lon", "lat"),
) -> DataFrame:
    """Exact kNN of ``points`` against ``candidates`` via broadcast
    crossJoin + window — deterministic tie-break on (d2, neighbor_id)."""
    cx, cy = coord_cols
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cx).alias("_nx"), F.col(cy).alias("_ny"),
    )
    joined = points.select(id_col, cx, cy).join(F.broadcast(c))
    joined = joined.filter(F.col(id_col) != F.col("neighbor_id"))
    # explicit multiplication (not pow) for bit-identical cross-engine math
    dx = F.col(cx) - F.col("_nx")
    dy = F.col(cy) - F.col("_ny")
    d2 = dx * dx + dy * dy
    joined = joined.withColumn("d2", d2)
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "neighbor_id", "rank", "d2")
    )
