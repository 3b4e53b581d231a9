"""Serving-path queries against a finished export (bbox -> tiles/instances).

A consumer of the export (a 3D Tiles client, a spatial analyst, an ops
runbook) asks two questions the engine itself never needed until now:
*which content tiles intersect this bbox* and *which instances are in it*.
Both answer from artifacts the pipeline already maintains — no re-tiling,
no full-data scan:

* tiles — the content sink manifest (one tiny row per tile) filtered by
  the closed-form per-level tile-index ranges of the bbox
  (:func:`bbox_tile_range`); tile keys parse from the
  ``{level}_{x}_{y}.{ext}`` relpath. The cost is driver under the tile
  budget, manifest scan beyond it: :func:`query_bbox_summary` reads the
  manifest with pyarrow and masks it in numpy while its footer row count
  is within ``checkpoint._MAX_DRIVER_TILES``, because a Spark plan over a
  few thousand rows costs its fixed per-query overhead (plan building,
  broadcast exchange, codegen), not data. Beyond the budget it scans the
  manifest with :func:`tiles_in_bbox`, a broadcast join against the range
  table (one row per level, ``<= max_level+1``) — O(tiles), never
  O(instances). :func:`tiles_in_bbox` is also the DataFrame API for
  callers that want a frame.
* :func:`instances_in_bbox` — the stage-3 assignment checkpoint filtered
  on lon/lat. The checkpoint is written Morton-range-partitioned
  (plans/pipeline stage 3), so the lon/lat predicates push down to parquet
  row-group stats that are spatially coherent — at cluster scale a small
  bbox reads a small fraction of files (PushedFilters gated in tests).
  :func:`query_bbox_summary` counts the same rows on the driver with no
  Spark job, from one walk of the stage-3 footers: a row group whose
  lon/lat statistics lie inside the bbox adds its footer row count, a
  disjoint one is skipped, and only the boundary ones are read (lon/lat
  columns) and masked in numpy — the pre-aggregated blocks of
  *GeoBlocks* (EDBT 2021), with a parquet row group as the block. When
  the boundary row groups hold more than ``_MAX_DRIVER_BBOX_ROWS`` rows,
  the count runs on :func:`instances_in_bbox` instead (two jobs).

The bbox convention matches the tiling kernel (functions/cells.tile_xy):
root bounds from ``_export_meta.json``, y grows north from YMin, edge
clamping (reference src/ImplicitTiling.cs:81-88). Bbox corners are mapped
through the same floor/clamp kernel as points, so a bbox edge that
coincides exactly with a cell boundary includes the cell a point on that
edge would map to — self-consistent with instance assignment, if slightly
wider than a strict open-interval geometric intersection.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import checkpoint
from .checkpoint import (
    _parquet_paths, footer_columns, part_files, read_parquet,
)


class ServingStateMissing(RuntimeError):
    """The artifact a serving query answers from (export meta, sink
    manifest, or the stage-3 checkpoint) is absent — e.g. the checkpoints
    were vacuumed with ``keep_stages=()`` or the export never completed.
    Serving queries never rebuild state; re-run the export (or point at
    the right --checkpoint_dir) instead."""


def _load_meta(out_dir: str, checkpoint_dir: str | None) -> dict:
    root = checkpoint_dir or os.path.join(out_dir, "_checkpoints")
    path = os.path.join(root, "_export_meta.json")
    if not os.path.exists(path):
        raise ServingStateMissing(
            f"no _export_meta.json under {root}: not a completed export "
            "root (or pass the export's checkpoint_dir)"
        )
    with open(path) as f:
        return json.load(f)


def _content_manifest(out_dir: str, checkpoint_dir: str | None) -> str:
    root = checkpoint_dir or os.path.join(out_dir, "_checkpoints")
    manifest_dir = os.path.join(root, "_sink_manifests", "content")
    if not os.path.isdir(manifest_dir):
        raise ServingStateMissing(
            f"no content sink manifest under {manifest_dir}: the export "
            "ran with write_content=False, or its manifests were removed — "
            "tile queries answer from manifests only"
        )
    return manifest_dir


def bbox_tile_range(bounds, bbox, level: int):
    """Closed-form index range of tiles at ``level`` intersecting ``bbox``:
    ``(x0, x1, y0, y1)`` inclusive, clamped to the level's grid. Pure
    arithmetic — the same math as functions/cells.tile_xy applied to the
    bbox corners."""
    xmin, ymin, xmax, ymax = bounds[0], bounds[1], bounds[2], bounds[3]
    qx0, qy0, qx1, qy1 = bbox
    n = 1 << level

    def _idx(v, lo, hi):
        f = math.floor((v - lo) / (hi - lo) * n)
        return min(max(f, 0), n - 1)

    return (_idx(qx0, xmin, xmax), _idx(qx1, xmin, xmax),
            _idx(qy0, ymin, ymax), _idx(qy1, ymin, ymax))


def tiles_in_bbox(
    spark: SparkSession,
    out_dir: str,
    bbox,
    checkpoint_dir: str | None = None,
    level: int | None = None,
) -> DataFrame:
    """(level, x, y, relpath, n_bytes) of every content tile whose cell
    rectangle intersects ``bbox`` (minlon, minlat, maxlon, maxlat).
    ``level`` restricts the answer to one quadtree level (a tiles client
    asks per-LOD; the filter also prunes the broadcast range table)."""
    meta = _load_meta(out_dir, checkpoint_dir)
    bounds = meta["bounds"]
    max_level = int(meta["opts"]["max_level"])
    manifest = read_parquet(spark, _content_manifest(out_dir, checkpoint_dir))
    tiles = manifest.select(
        F.regexp_extract("relpath", r"^(\d+)_(\d+)_(\d+)\.", 1)
        .cast("int").alias("level"),
        F.regexp_extract("relpath", r"^(\d+)_(\d+)_(\d+)\.", 2)
        .cast("bigint").alias("x"),
        F.regexp_extract("relpath", r"^(\d+)_(\d+)_(\d+)\.", 3)
        .cast("bigint").alias("y"),
        "relpath", "n_bytes",
    )
    levels = (
        range(max_level + 1) if level is None
        else range(max(level, 0), min(level, max_level) + 1)
    )
    ranges = spark.createDataFrame(
        [(lv, *bbox_tile_range(bounds, bbox, lv)) for lv in levels],
        "level int, x0 bigint, x1 bigint, y0 bigint, y1 bigint",
    )
    return (
        tiles.join(F.broadcast(ranges), "level")
        .filter("x >= x0 and x <= x1 and y >= y0 and y <= y1")
        .select("level", "x", "y", "relpath", "n_bytes")
    )


_TILE_KEY = r"^(?P<level>\d+)_(?P<x>\d+)_(?P<y>\d+)\."


def _tiles_in_bbox_driver(manifest_dir: str, bounds, max_level: int, bbox):
    """:func:`tiles_in_bbox` on the driver, as a pyarrow table ordered by
    ``(level, x, y)``: the manifest's ``relpath, n_bytes`` read with
    pyarrow, tile keys parsed once with one regex, and the per-level
    ranges looked up in a numpy array indexed by level. Relpaths that do
    not parse, and levels above ``max_level``, drop out as they do in the
    Spark join."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def read(fp):
        # one file's reader, not pq.read_table's dataset discovery: 40 us
        # against 270 us per Spark-written file and 540 us per pyarrow-
        # written one, whose footer also carries the Arrow schema
        with pq.ParquetFile(fp) as f:
            return f.read(columns=["relpath", "n_bytes"], use_threads=False)

    manifest = pa.concat_tables(read(fp) for fp in _parquet_paths(manifest_dir))
    keys = pc.extract_regex(manifest["relpath"], _TILE_KEY)
    parsed = pc.is_valid(keys)
    manifest, keys = manifest.filter(parsed), keys.filter(parsed)
    level, x, y = (
        pc.cast(pc.struct_field(keys, k), pa.int64()).to_numpy()
        for k in ("level", "x", "y")
    )
    ranges = np.array(
        [bbox_tile_range(bounds, bbox, lv) for lv in range(max_level + 1)],
        dtype=np.int64,
    )
    known = level <= max_level
    x0, x1, y0, y1 = ranges[np.where(known, level, 0)].T
    hit = np.flatnonzero(known & (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1))
    hit = hit[np.lexsort((y[hit], x[hit], level[hit]))]
    return pa.table({
        "level": pa.array(level[hit], pa.int32()),
        "x": x[hit], "y": y[hit],
        "relpath": manifest["relpath"].take(hit),
        "n_bytes": manifest["n_bytes"].take(hit),
    })


def _stage3_dir(out_dir: str, checkpoint_dir: str | None) -> str:
    root = checkpoint_dir or os.path.join(out_dir, "_checkpoints")
    stage3 = os.path.join(root, "stage3_assigned")
    if not os.path.isdir(stage3):
        raise ServingStateMissing(
            f"stage3_assigned checkpoint missing under {root} (vacuumed, "
            "or the export never completed): instances_in_bbox answers "
            "from the assignment checkpoint only — re-run the export or "
            "pass the correct checkpoint_dir"
        )
    return stage3


def instances_in_bbox(
    spark: SparkSession,
    out_dir: str,
    bbox,
    checkpoint_dir: str | None = None,
    columns=("url", "lon", "lat", "level", "x", "y"),
) -> DataFrame:
    """Instances inside ``bbox`` from the stage-3 assignment checkpoint.
    Pure parquet filter — lon/lat predicates push to row-group stats that
    the Morton-ordered write made spatially coherent.

    Hard-depends on the ``stage3_assigned`` checkpoint: if it was vacuumed
    or never completed, this raises :class:`ServingStateMissing` (VERDICT
    r4 #7) — serving queries never recompute assignments."""
    assigned = read_parquet(spark, _stage3_dir(out_dir, checkpoint_dir))
    qx0, qy0, qx1, qy1 = (float(v) for v in bbox)
    return (
        assigned
        .filter(
            (F.col("lon") >= qx0) & (F.col("lon") <= qx1)
            & (F.col("lat") >= qy0) & (F.col("lat") <= qy1)
        )
        .select(*columns)
    )


#: largest stage-3 row total of the boundary row groups (footer lon/lat
#: box meets the bbox without lying inside it) that a bbox count reads on
#: the driver; beyond it the count is ``instances_in_bbox(...).count()``.
#: Measured crossover (local[4], synthetic Spark-written stage 3 of
#: uniform points in 4 files, so every row group is boundary; driver
#: footer walk + read + mask vs the warm Spark count, median of 3):
#: 300k rows 5/261 ms, 3M 60/289 ms, 5M 126/239 ms, 10M 236/290 ms,
#: 15M 446/375 ms, 20M 561/493 ms. Read at call time.
_MAX_DRIVER_BBOX_ROWS = 10_000_000

_DISJOINT, _INSIDE, _BOUNDARY = range(3)


def _axis_case(stats, lo: float, hi: float) -> int:
    """One axis of a row group against ``[lo, hi]`` from its column-chunk
    statistics. Every comparison is false on a NaN bound, so a chunk
    whose max is NaN (Spark's writer keeps a NaN in min/max) is never
    inside; a chunk without min/max, or with nulls, is never inside."""
    if stats is None or not stats.has_min_max:
        return _BOUNDARY
    if stats.max < lo or stats.min > hi:
        return _DISJOINT
    if (stats.min >= lo and stats.max <= hi
            and stats.has_null_count and stats.null_count == 0):
        return _INSIDE
    return _BOUNDARY


def _row_group_case(row_group, ilon: int, ilat: int, bbox) -> int:
    qx0, qy0, qx1, qy1 = bbox
    cases = (_axis_case(row_group.column(ilon).statistics, qx0, qx1),
             _axis_case(row_group.column(ilat).statistics, qy0, qy1))
    if _DISJOINT in cases:
        return _DISJOINT
    return _INSIDE if cases == (_INSIDE, _INSIDE) else _BOUNDARY


def _count_in_bbox_driver(stage3: str, bbox) -> int | None:
    """``instances_in_bbox(...).count()`` on the driver, or None when the
    boundary row groups hold more than ``_MAX_DRIVER_BBOX_ROWS`` rows.

    One footer walk sorts each stage-3 row group by its lon/lat
    statistics: disjoint ones are skipped, ones inside the bbox add their
    footer row count, and the boundary ones are read — ``lon, lat`` only,
    one row group at a time — and masked with the same closed interval as
    the Spark filter (a NaN or null coordinate never passes)."""
    import numpy as np
    import pyarrow.parquet as pq

    bbox = tuple(float(v) for v in bbox)
    qx0, qy0, qx1, qy1 = bbox
    n, boundary, n_boundary = 0, [], 0
    for fp in _parquet_paths(stage3):
        meta = pq.read_metadata(fp)
        if not meta.num_row_groups:
            continue
        cols = footer_columns(meta)
        ilon, ilat = cols["lon"], cols["lat"]
        groups = []
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            case = _row_group_case(rg, ilon, ilat, bbox)
            if case == _INSIDE:
                n += rg.num_rows
            elif case == _BOUNDARY and rg.num_rows:
                groups.append(i)
                n_boundary += rg.num_rows
        if groups:
            boundary.append((fp, meta, groups))
    if n_boundary > _MAX_DRIVER_BBOX_ROWS:
        return None
    for fp, meta, groups in boundary:
        with pq.ParquetFile(fp, metadata=meta) as f:
            for i in groups:
                t = f.read_row_group(i, columns=["lon", "lat"],
                                     use_threads=False)
                lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
                n += int(np.count_nonzero(
                    (lon >= qx0) & (lon <= qx1) & (lat >= qy0) & (lat <= qy1)))
    return n


def query_bbox_summary(
    spark: SparkSession | Callable[[], SparkSession],
    out_dir: str,
    bbox,
    checkpoint_dir: str | None = None,
    max_listed: int = 100,
) -> dict:
    """CLI-facing one-shot: tile + instance counts and the first
    ``max_listed`` tile relpaths in ``(level, x, y)`` order for a bbox.

    Both sides answer on the driver within their budgets, with no Spark
    job: the tiles while the manifest's footer row count is within
    ``checkpoint._MAX_DRIVER_TILES`` (:func:`tiles_in_bbox` scans it
    beyond), the instance count while the boundary row groups of stage 3
    hold at most ``_MAX_DRIVER_BBOX_ROWS`` rows
    (``instances_in_bbox(...).count()`` beyond). The count is of stage-3
    rows, so under clustering a point counts once per content tile it
    falls in. ``spark`` is a SparkSession or a zero-argument callable
    returning one, called only when a budget sends a side to Spark."""
    def session() -> SparkSession:
        return spark() if callable(spark) else spark

    meta = _load_meta(out_dir, checkpoint_dir)
    manifest_dir = _content_manifest(out_dir, checkpoint_dir)
    n_manifest = sum(f.n_rows for f in part_files(manifest_dir))
    if n_manifest <= checkpoint._MAX_DRIVER_TILES:
        tiles = _tiles_in_bbox_driver(
            manifest_dir, meta["bounds"], int(meta["opts"]["max_level"]),
            bbox)
        n_tiles = tiles.num_rows
        sample = tiles["relpath"].slice(0, max_listed).to_pylist()
    else:
        tiles = tiles_in_bbox(session(), out_dir, bbox, checkpoint_dir).cache()
        try:
            n_tiles = tiles.count()
            sample = [
                r["relpath"] for r in
                tiles.orderBy("level", "x", "y").limit(max_listed).collect()
            ]
        finally:
            tiles.unpersist()
    n_instances = _count_in_bbox_driver(
        _stage3_dir(out_dir, checkpoint_dir), bbox)
    if n_instances is None:
        n_instances = instances_in_bbox(
            session(), out_dir, bbox, checkpoint_dir).count()
    return {
        "bbox": list(bbox), "n_tiles": n_tiles,
        "n_instances": n_instances, "tiles": sample,
    }
