"""S2/A2/F12: table extent scan + root-bbox derivation.

Reference: one PostGIS ``ST_3DExtent`` query (src/InstancesRepository.cs:63-105)
plus driver-side fixes (src/Program.cs:81-91). Here: a single Spark agg job
(6 min/max, map-side partial agg, result broadcast by value).

Bug-compatibility (SURVEY.md §7 hazard 5): the reference's 10% inflation
mutates xmin/ymin **before** computing xmax/ymax deltas
(src/InstancesRepository.cs:89-93), making the inflation asymmetric
(upper edge moves ~11%). Reproduced exactly — it shifts every tile boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import Bounds


def compute_raw_extent(
    df: DataFrame,
    query: str = "",
    lon="lon",
    lat="lat",
    z="z",
) -> tuple[float, float, float, float, float, float]:
    """Pre-inflation data extent (xmin, ymin, xmax, ymax, zmin, zmax) —
    one map-side-partial agg job. Recorded by run_export as the parity
    anchor for incremental appends: a batch inside this box leaves a
    recomputed union extent (and therefore every derived tile boundary
    and the tileset region z-range) bit-identical."""
    if query:
        # P2 user predicate passthrough (reference src/Options.cs:25-26)
        df = df.filter(F.expr(query))
    row = df.agg(
        F.min(lon).alias("xmin"),
        F.max(lon).alias("xmax"),
        F.min(lat).alias("ymin"),
        F.max(lat).alias("ymax"),
        F.min(z).alias("zmin"),
        F.max(z).alias("zmax"),
    ).collect()[0]
    if row["xmin"] is None:
        raise ValueError(
            "extent scan found no rows (empty table or over-restrictive query)"
        )
    return (row["xmin"], row["ymin"], row["xmax"], row["ymax"],
            row["zmin"], row["zmax"])


def compute_bounds(
    df: DataFrame,
    heights: tuple[float, float] = (0.0, 10.0),
    query: str = "",
    lon="lon",
    lat="lat",
    z="z",
    clamp: bool = True,
) -> Bounds:
    """Min/max extent -> inflated, clamped, degeneracy-fixed root Bounds."""
    xmin, ymin, xmax, ymax, zmin, zmax = compute_raw_extent(
        df, query=query, lon=lon, lat=lat, z=z
    )
    return derive_root_bounds(xmin, ymin, xmax, ymax, zmin, zmax,
                              heights, clamp)


def raw_extent_from_parquet_stats(
    path: str | list[str],
    lon: str = "lon",
    lat: str = "lat",
    z: str = "z",
) -> tuple[float, float, float, float, float, float] | None:
    """Pre-inflation data extent from parquet FOOTER statistics — zero
    data rows read. Returns None when any row group lacks stats."""
    facts = parquet_footer_facts(path, lon=lon, lat=lat, z=z)
    return None if facts is None else facts[1]


def parquet_footer_facts(
    path: str | list[str],
    lon: str = "lon",
    lat: str = "lat",
    z: str = "z",
) -> tuple[int, tuple[float, ...] | None] | None:
    """(row count, pre-inflation extent) of parquet files from one walk
    of their FOOTERS — zero data rows read. The extent is None when any
    non-empty row group lacks a column or its stats (or no row group
    holds rows); the whole result is None when the files cannot be
    opened as a parquet dataset."""
    import pyarrow.dataset as pads

    from ..plans.checkpoint import footer_columns

    if isinstance(path, (list, tuple)):
        path = [p.removeprefix("file:") for p in path]
    else:
        path = path.removeprefix("file:")
    try:
        dataset = pads.dataset(path, format="parquet")
    except Exception:
        return None
    want = {lon: [None, None], lat: [None, None], z: [None, None]}
    n_rows = n_groups = 0
    stats_ok = True
    for frag in dataset.get_fragments():
        md = frag.metadata
        n_rows += md.num_rows
        if not (md.num_row_groups and stats_ok):
            continue
        cols = footer_columns(md)
        if any(c not in cols for c in want):
            stats_ok = False
            continue
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            if group.num_rows == 0:
                continue
            n_groups += 1
            for col, (lo, hi) in want.items():
                stats = group.column(cols[col]).statistics
                if stats is None or not stats.has_min_max:
                    stats_ok = False
                    break
                want[col][0] = stats.min if lo is None else min(lo, stats.min)
                want[col][1] = stats.max if hi is None else max(hi, stats.max)
            if not stats_ok:
                break
    if not stats_ok or n_groups == 0 or want[lon][0] is None:
        return n_rows, None
    return n_rows, (want[lon][0], want[lat][0], want[lon][1], want[lat][1],
                    want[z][0], want[z][1])


def bounds_from_parquet_stats(
    path: str | list[str],
    heights: tuple[float, float] = (0.0, 10.0),
    lon: str = "lon",
    lat: str = "lat",
    z: str = "z",
    clamp: bool = True,
) -> Bounds | None:
    """Extent from parquet FOOTER statistics — zero data rows read.

    Parquet (and Iceberg manifests, which carry the same per-file column
    bounds) stores exact min/max for double columns per row group; at
    100 TB the extent is therefore a metadata-only walk instead of a full
    scan, removing one of the export's full passes over the input.
    Returns None when any row group lacks stats (caller falls back to
    :func:`compute_bounds`). Same inflation/clamp/degeneracy pipeline as
    the scan path — parity-tested to produce identical Bounds.
    """
    raw = raw_extent_from_parquet_stats(path, lon=lon, lat=lat, z=z)
    if raw is None:
        return None
    xmin, ymin, xmax, ymax, zmin, zmax = raw
    return derive_root_bounds(xmin, ymin, xmax, ymax, zmin, zmax,
                              heights, clamp)


def derive_root_bounds(
    xmin: float, ymin: float, xmax: float, ymax: float,
    zmin: float, zmax: float,
    heights: tuple[float, float] = (0.0, 10.0),
    clamp: bool = True,
) -> Bounds:
    """Pure driver math, separated for exact unit testing.

    Order of operations matches the reference exactly:
    1. z offsets (src/InstancesRepository.cs:83-84)
    2. asymmetric 10% inflation (src/InstancesRepository.cs:89-93 — xmax/ymax
       use the already-moved xmin/ymin)
    3. clamp to +/-180 / +/-90 unless keep_projection
       (src/InstancesRepository.cs:95-101)
    4. degenerate-area fix +/-0.0005 deg (src/Program.cs:81-91)
    """
    zmin = zmin + heights[0]
    zmax = zmax + heights[1]

    xmin = xmin - (xmax - xmin) * 0.1
    ymin = ymin - (ymax - ymin) * 0.1
    xmax = xmax + (xmax - xmin) * 0.1  # deliberate: uses mutated xmin
    ymax = ymax + (ymax - ymin) * 0.1  # deliberate: uses mutated ymin

    if clamp:
        xmin = max(xmin, -180.0)
        xmax = min(xmax, 180.0)
        ymin = max(ymin, -90.0)
        ymax = min(ymax, 90.0)

    if abs((xmax - xmin) * (ymax - ymin)) < 0.0001:
        delta = 0.001  # ~111 m, reference src/Program.cs:85
        xmin -= delta / 2
        ymin -= delta / 2
        xmax += delta / 2
        ymax += delta / 2

    return Bounds(xmin, ymin, xmax, ymax, zmin, zmax)
