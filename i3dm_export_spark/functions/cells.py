"""Vectorized spatial cell indexing (numpy, batch-first).

Three indexes, all pure arithmetic / branch-free numpy — usable inside
Arrow-batched pandas UDFs and (for the quadtree) directly as Spark SQL
column expressions:

- **Quadtree keys** (T1): the reference splits the root bbox by recursive
  midpoint halving with child key ``(z+1, 2x+dx, 2y+dy)`` and y growing
  north from YMin (reference src/ImplicitTiling.cs:73-91). Closed-form:
  ``x = floor((lon - xmin) / (xmax - xmin) * 2^level)`` clamped to
  ``[0, 2^level - 1]``. Division by two is exact in IEEE754, so the
  closed form agrees with the recursive midpoints except within 1 ulp of
  a boundary; the engine assigns boundary points uniquely (half-open
  cells) where the reference's ``ST_Intersects`` double-counts points on
  shared edges — a deliberate, documented fix (SURVEY.md §7 hazard 6).

- **Morton codes**: bit-interleave of (x, y) used for subtree-internal
  availability ordering (3D Tiles 1.1 implicit tiling, public spec) and
  for spatially-local range partitioning.

- **S2 cell ids**: from-scratch reimplementation of the public S2
  quadratic-projection + Hilbert-curve construction (s2geometry docs),
  vectorized: lat/lng -> unit XYZ -> cube face -> (s,t) -> (i,j) at
  level 30 -> Hilbert position -> 64-bit cell id. Used as the
  scale-path bucketing key for PIP prefilters and skew salting.
"""

from __future__ import annotations

import numpy as np

MAX_S2_LEVEL = 30

# ---------------------------------------------------------------------------
# Quadtree (T1)
# ---------------------------------------------------------------------------


def tile_xy(lon, lat, level, bbox):
    """Quadtree cell key at ``level`` inside root ``bbox`` (xmin,ymin,xmax,ymax).

    y grows **north from YMin** (reference src/ImplicitTiling.cs:81-88, no
    TMS flip). Points outside the bbox clamp into the edge cells, matching
    the reference's behavior of the root bbox being inflated to cover all
    data (src/InstancesRepository.cs:89-101).

    Bit for bit the keys of ``tiling.with_cell_keys``: the same float
    expression, then the clamp in float before the cast, which is where
    Spark's saturating ``floor`` puts a huge or infinite value; a NaN
    floors to 0 there, as here.
    """
    xmin, ymin, xmax, ymax = bbox
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.int64(1) << np.int64(level)
    fx = (lon - xmin) / (xmax - xmin) * n
    fy = (lat - ymin) / (ymax - ymin) * n
    hi = float(n - 1)
    x = np.clip(np.nan_to_num(np.floor(fx)), 0.0, hi).astype(np.int64)
    y = np.clip(np.nan_to_num(np.floor(fy)), 0.0, hi).astype(np.int64)
    return x, y


def tile_xy_sql(lon_col, lat_col, level, bbox):
    """The same closed form as :func:`tile_xy` as ANSI-SQL text, usable both
    as a Spark SQL expression and inside the DuckDB oracle. Returns
    ``(x_expr, y_expr)`` strings producing BIGINT."""
    xmin, ymin, xmax, ymax = bbox
    n = 1 << level
    x = (
        f"CAST(LEAST(GREATEST(FLOOR(({lon_col} - {xmin!r}) / "
        f"({xmax!r} - {xmin!r}) * {n}), 0), {n - 1}) AS BIGINT)"
    )
    y = (
        f"CAST(LEAST(GREATEST(FLOOR(({lat_col} - {ymin!r}) / "
        f"({ymax!r} - {ymin!r}) * {n}), 0), {n - 1}) AS BIGINT)"
    )
    return x, y


def parent_xy(x, y, dlevel=1):
    """Ancestor key ``dlevel`` levels up (child key is (2x+dx, 2y+dy))."""
    return np.asarray(x) >> dlevel, np.asarray(y) >> dlevel


# ---------------------------------------------------------------------------
# Morton (Z-order)
# ---------------------------------------------------------------------------

_B = [
    np.uint64(0x5555555555555555),
    np.uint64(0x3333333333333333),
    np.uint64(0x0F0F0F0F0F0F0F0F),
    np.uint64(0x00FF00FF00FF00FF),
    np.uint64(0x0000FFFF0000FFFF),
]


def _part1by1(v):
    """Spread the low 32 bits of v over the even bit positions."""
    v = np.asarray(v, dtype=np.uint64) & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & _B[4]
    v = (v | (v << np.uint64(8))) & _B[3]
    v = (v | (v << np.uint64(4))) & _B[2]
    v = (v | (v << np.uint64(2))) & _B[1]
    v = (v | (v << np.uint64(1))) & _B[0]
    return v


def morton_encode(x, y):
    """Interleave bits: x in even positions, y in odd (3D Tiles Morton order)."""
    return (_part1by1(x) | (_part1by1(y) << np.uint64(1))).astype(np.int64)


def _compact1by1(v):
    v = np.asarray(v, dtype=np.uint64) & _B[0]
    v = (v | (v >> np.uint64(1))) & _B[1]
    v = (v | (v >> np.uint64(2))) & _B[2]
    v = (v | (v >> np.uint64(4))) & _B[3]
    v = (v | (v >> np.uint64(8))) & _B[4]
    v = (v | (v >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return v


def morton_decode(code):
    c = np.asarray(code, dtype=np.uint64)
    return (
        _compact1by1(c).astype(np.int64),
        _compact1by1(c >> np.uint64(1)).astype(np.int64),
    )


# ---------------------------------------------------------------------------
# S2 cell ids (public s2geometry construction, reimplemented & vectorized)
# ---------------------------------------------------------------------------

# Hilbert sub-cell traversal tables (public S2 constants).
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.uint64
)
_IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.uint64
)
_SWAP_MASK = 0x1
_INVERT_MASK = 0x2
_POS_TO_ORIENTATION = np.array([_SWAP_MASK, 0, 0, _SWAP_MASK | _INVERT_MASK], dtype=np.uint64)


def _lonlat_to_xyz(lon_deg, lat_deg):
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    return np.cos(lon) * cos_lat, np.sin(lon) * cos_lat, np.sin(lat)


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face).astype(np.int64)
    # u, v per face (canonical S2 face coordinate frames)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve, de) in enumerate(
        [
            (lambda: y / x, lambda: z / x, None),      # face 0: +x major
            (lambda: -x / y, lambda: z / y, None),     # face 1: +y major
            (lambda: -x / z, lambda: -y / z, None),    # face 2: +z major
            (lambda: z / x, lambda: y / x, None),      # face 3: -x major
            (lambda: z / y, lambda: -x / y, None),     # face 4: -y major
            (lambda: -y / z, lambda: -x / z, None),    # face 5: -z major
        ]
    ):
        m = face == f
        if np.any(m):
            with np.errstate(divide="ignore", invalid="ignore"):
                u[m] = ue()[m]
                v[m] = ve()[m]
    return face, u, v


def _uv_to_st(u):
    """S2 quadratic projection (public formula)."""
    # abs() keeps both np.where branches finite (u in [-1,1] on its face)
    r = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0.0, r, 1.0 - r)


def s2_cell_id(lon_deg, lat_deg, level=MAX_S2_LEVEL):
    """64-bit S2 cell id at ``level`` for lon/lat arrays (vectorized).

    Returns int64 (reinterpreted bits of the canonical uint64 id) so the
    values can live in a Spark LongType column.
    """
    x, y, z = _lonlat_to_xyz(lon_deg, lat_deg)
    face, u, v = _xyz_to_face_uv(x, y, z)
    max_size = 1 << MAX_S2_LEVEL
    i = np.clip((_uv_to_st(u) * max_size).astype(np.int64), 0, max_size - 1).astype(np.uint64)
    j = np.clip((_uv_to_st(v) * max_size).astype(np.int64), 0, max_size - 1).astype(np.uint64)

    orientation = (np.asarray(face, dtype=np.uint64)) & np.uint64(_SWAP_MASK)
    pos = np.zeros_like(i)
    for k in range(MAX_S2_LEVEL - 1, -1, -1):
        ib = (i >> np.uint64(k)) & np.uint64(1)
        jb = (j >> np.uint64(k)) & np.uint64(1)
        ij = (ib << np.uint64(1)) | jb
        bits = _IJ_TO_POS[orientation, ij]
        pos = (pos << np.uint64(2)) | bits
        orientation = orientation ^ _POS_TO_ORIENTATION[bits]

    cell = (np.asarray(face, dtype=np.uint64) << np.uint64(61)) | (pos << np.uint64(1)) | np.uint64(1)
    if level < MAX_S2_LEVEL:
        # truncate to the level: clear bits below the level's lsb, set the lsb
        lsb = np.uint64(1) << np.uint64(2 * (MAX_S2_LEVEL - level))
        cell = (cell & ~(lsb - np.uint64(1))) | lsb
    return cell.view(np.int64) if isinstance(cell, np.ndarray) else np.int64(cell)


def s2_parent(cell_id, level):
    """Parent id at ``level`` (clear bits below the level's lsb, set lsb)."""
    c = np.asarray(cell_id).view(np.uint64) if isinstance(cell_id, np.ndarray) else np.uint64(cell_id)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_S2_LEVEL - level))
    out = (c & ~(np.uint64(2) * lsb - np.uint64(1))) | lsb
    return out.view(np.int64) if isinstance(out, np.ndarray) else np.int64(out)


def s2_level(cell_id):
    """Level of a cell id = 30 - (trailing zero count / 2)."""
    c = np.asarray(cell_id, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    # trailing zeros via float64 exponent trick (exact for single set bit)
    tz = (np.log2(lsb.astype(np.float64))).astype(np.int64)
    return (MAX_S2_LEVEL - tz // 2).astype(np.int64)
