"""Explicit skew handling (north_rule: "skewed hot cells salted and
range-repartitioned explicitly").

AQE's skew-join split is the backstop (session.py) but it cannot split a
GROUP: one ``applyInPandas`` group is one task, so a dense urban cell with
100x the median instance count pins one executor for (superlinearly) 100x
the median time. This module is the explicit mechanism:

* :func:`hot_tile_keys` — the hot content tiles, read off the stage-2
  tile table (a tile is hot when its ``n_instances`` exceeds
  ``threshold x max_features``), with no count over the instances;
* :func:`add_salt_for_hot` — deterministic per-row salt
  ``pmod(xxhash64(id), n_buckets)`` for rows in hot cells, null elsewhere
  (cold groups are not fragmented);
* :func:`cluster_tiles_salted` — stage A of the hot tiles' two-stage LOD
  reduction: each (hot tile, salt) sub-group is reduced to <= k rows by
  the pandas kernel :func:`stage_a_reduce`, which the export's one-task
  plan runs too (:func:`reduce_hot_tile`, over one hot tile's rows).
  Stage B, the reduce of the <= n_buckets*k survivors per tile to exactly
  k, is the encode's per-tile kernel (``encode.tile_members``), which
  also reduces every warm tile in one step.

The two-stage split is valid for reductions R where
R(R(A_1) u ... u R(A_m)) is an acceptable R(A) — k-means representative
selection qualifies (hierarchical k-means; the reference's own contract
is the COUNT invariant, reference tests/Clustering/ClusteringTests.cs:36-37,
since its RNG is unseeded, src/TileClustering.cs:19-26). Exact kNN does
NOT qualify; kNN instead runs after LOD reduction, whose output is
bounded by max_features per tile (operators/knn.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .clustering import reduce_tile

TILE_KEY = ("level", "x", "y")


def hot_threshold(opts) -> int:
    """Stage-3 rows over which a content tile is hot:
    ``skew_salt_threshold x max_features_per_tile``."""
    return int(opts.skew_salt_threshold * opts.max_features_per_tile)


def _n_buckets(opts) -> int:
    return max(int(opts.skew_salt_buckets), 1)


def hot_cell_keys(
    counts: DataFrame, hot_threshold: int, key_cols=TILE_KEY, count_col: str = "_n"
) -> DataFrame:
    """Cells whose count exceeds ``hot_threshold`` — the salting candidates.
    ``counts`` is the stage-2 per-cell count table (already tiny relative
    to instances), so this is a filter, not a scan of the data."""
    return counts.filter(F.col(count_col) > hot_threshold).select(*key_cols)


def hot_tile_keys(tiles: DataFrame, tiles_pdf, opts) -> DataFrame | None:
    """(level, x, y) of the content tiles over ``skew_salt_threshold x
    max_features_per_tile`` stage-3 rows, from the stage-2 tile table: a
    content tile's stage-3 rows are exactly the ``n_instances`` under it.
    With the driver's copy (``tiles_pdf``) the keys become a small Spark
    frame, or None when no tile is hot; else a filter of ``tiles``."""
    threshold = hot_threshold(opts)
    if tiles_pdf is None:
        return hot_cell_keys(tiles, threshold, count_col="n_instances")
    hot = tiles_pdf.loc[tiles_pdf["n_instances"] > threshold, list(TILE_KEY)]
    if hot.empty:
        return None
    return tiles.sparkSession.createDataFrame(
        hot, schema="level int, x bigint, y bigint")


def add_salt_for_hot(
    df: DataFrame,
    hot: DataFrame,
    n_buckets: int,
    id_col: str = "url",
    key_cols=TILE_KEY,
    salt_col: str = "_salt",
) -> DataFrame:
    """Adds ``salt_col``: pmod(xxhash64(id), n_buckets) inside hot cells,
    null elsewhere. The hot-key side is broadcast (it is a filtered subset
    of the tile table — small by construction even at 10^12 rows); the
    salt is a pure projection, so the only shuffle is whatever the
    downstream groupBy does on (key, salt)."""
    flagged = df.join(
        F.broadcast(hot.withColumn("_is_hot", F.lit(True))),
        list(key_cols),
        "left",
    )
    return flagged.withColumn(
        salt_col,
        F.when(
            F.col("_is_hot").isNotNull(),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)),
        ),
    ).drop("_is_hot")


def stage_a_reduce(pdf: pd.DataFrame, opts, order_col: str = "url"
                   ) -> pd.DataFrame:
    """Stage A kernel: one (hot tile, salt) sub-group's rows reduced to
    <= k = ``max_features_per_tile`` representatives
    (:func:`~.clustering.reduce_tile`, seeded, in ``order_col`` order)."""
    return reduce_tile(pdf, opts.max_features_per_tile,
                       seed=opts.cluster_seed, order_col=order_col,
                       use_ecef=not opts.keep_projection)


def cluster_tiles_salted(
    assigned: DataFrame, hot: DataFrame | None, opts, order_col: str = "url"
) -> DataFrame:
    """Stage A of the LOD reduction of the hot tiles ``hot`` (keys from
    :func:`hot_tile_keys`; None: no hot tile, ``assigned`` comes back as
    is).

    A hot tile's rows (n > t*k; k = max_features_per_tile,
    t = skew_salt_threshold, m = skew_salt_buckets) are split into m
    (tile, salt) sub-groups of ~n/m rows, each reduced to <= k rows by
    :func:`stage_a_reduce`; every other row passes through untouched. The
    encode's per-tile kernel then reduces each tile to exactly min(k, n)
    rows: a hot tile's <= m*k survivors (stage B) and a warm tile
    (k < n <= t*k) in one step. Worst-case single-task input drops from n
    to max(n/m, m*k); per-task k-means cost is superlinear in group size,
    so wall-clock on a 100:1 hot cell drops accordingly."""
    if hot is None:
        return assigned
    from ..packaging import ensure_shipped

    ensure_shipped(assigned.sparkSession)
    key = list(TILE_KEY)

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        return stage_a_reduce(pdf.drop(columns=["_salt"]), opts, order_col)

    salted = add_salt_for_hot(assigned, hot, _n_buckets(opts),
                              id_col=order_col, key_cols=key)
    cold = salted.filter(F.col("_salt").isNull()).drop("_salt")
    stage_a = (
        salted.filter(F.col("_salt").isNotNull())
        .groupBy(*key, "_salt")
        .applyInPandas(_reduce, schema=assigned.schema)
    )
    return cold.unionByName(stage_a)


def reduce_hot_tile(pdf: pd.DataFrame, hashes, opts,
                    order_col: str = "url") -> pd.DataFrame:
    """Stage A over one hot tile's rows held in one process: the rows
    split by :func:`add_salt_for_hot`'s salt, ``pmod(hashes, m)`` with
    ``hashes`` Spark's ``xxhash64`` of ``order_col``, and each sub-group
    reduced by :func:`stage_a_reduce` — the survivors
    :func:`cluster_tiles_salted` leaves for that tile."""
    salt = np.mod(np.asarray(hashes, np.int64), _n_buckets(opts))
    return pd.concat([stage_a_reduce(g, opts, order_col)
                      for _, g in pdf.groupby(salt, sort=True)])
