"""Raster <-> vector tile extent intersection (north_star operator).

Interval-overlap join of axis-aligned extents:
    a.min_lon < b.max_lon AND a.max_lon > b.min_lon AND (same for lat)

Physical strategy (SURVEY.md §2.3): a naive theta-join is O(n*m); the scale
path prefilters with a **cell-key equi-join** — each extent is exploded to
the coarse grid cells it covers, candidates meet on the cell key (one
shuffle, skew-safe), then the exact predicate filters, and duplicates from
multi-cell overlaps are dropped. Broadcast when one side is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import Bounds


def _overlap_pred(a: str, b: str):
    return (
        (F.col(f"{a}.min_lon") < F.col(f"{b}.max_lon"))
        & (F.col(f"{a}.max_lon") > F.col(f"{b}.min_lon"))
        & (F.col(f"{a}.min_lat") < F.col(f"{b}.max_lat"))
        & (F.col(f"{a}.max_lat") > F.col(f"{b}.min_lat"))
    )


def extent_overlap_join_broadcast(left: DataFrame, right: DataFrame) -> DataFrame:
    """Small-side broadcast theta-join (exact, JVM-side)."""
    return left.alias("a").join(F.broadcast(right.alias("b")), _overlap_pred("a", "b"))


def _cover_cells(df: DataFrame, bounds: Bounds, level: int) -> DataFrame:
    """Explode an extent table to the level-``level`` grid cells it covers."""
    n = 1 << level
    w = (bounds.xmax - bounds.xmin) / n
    h = (bounds.ymax - bounds.ymin) / n
    x0 = F.floor((F.col("min_lon") - bounds.xmin) / w).cast("bigint")
    x1 = F.floor((F.col("max_lon") - bounds.xmin) / w).cast("bigint")
    y0 = F.floor((F.col("min_lat") - bounds.ymin) / h).cast("bigint")
    y1 = F.floor((F.col("max_lat") - bounds.ymin) / h).cast("bigint")
    clamp = lambda c: F.least(F.greatest(c, F.lit(0)), F.lit(n - 1))  # noqa: E731
    return (
        df.withColumn("_cx", F.explode(F.sequence(clamp(x0), clamp(x1))))
        .withColumn("_cy", F.explode(F.sequence(clamp(y0), clamp(y1))))
    )


def extent_overlap_join_cellkey(
    left: DataFrame, right: DataFrame, bounds: Bounds, level: int = 6,
    left_id: str = "raster_id", right_id: str = "tile_id",
) -> DataFrame:
    """Scale path: cell-key prefilter equi-join + exact predicate + dedup.

    Avoids the O(n*m) blowup: candidates only meet when their extents share
    a grid cell. ``level`` trades replication (4^level cells) against
    candidate selectivity; a few coarse levels suffice for raster mosaics.
    """
    lc = _cover_cells(left, bounds, level).alias("a")
    rc = _cover_cells(right, bounds, level).alias("b")
    joined = lc.join(rc, (F.col("a._cx") == F.col("b._cx")) & (F.col("a._cy") == F.col("b._cy")))
    exact = joined.filter(_overlap_pred("a", "b"))
    return exact.select(f"a.{left_id}", f"b.{right_id}").distinct()
