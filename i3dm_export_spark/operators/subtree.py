"""T4/K3: 3D Tiles 1.1 implicit-tiling subtree bitmaps + binary writer.

The reference delegates this to the external `subtree` NuGet package
(reference src/Program.cs:143-152, src/ImplicitTiling.cs:13-31); this module
owns it per the public 3D Tiles 1.1 spec (implicit tiling):

* the tile tree is cut into subtrees of ``subtree_levels`` levels; subtree
  roots sit at absolute levels 0, s, 2s, ...;
* within a subtree, tiles are indexed level-by-level in **Morton order**
  (interleaved x/y bits relative to the subtree root);
* three bitstreams per subtree file: tileAvailability ((4^s - 1)/3 bits),
  contentAvailability (same length), childSubtreeAvailability (4^s bits);
* binary layout: 24-byte header (magic ``subt``, version 1, uint64 JSON
  byte length, uint64 binary byte length), 8-byte space-padded JSON chunk,
  zero-padded binary buffer.

Availability rule (spec-monotone, derived from the tiles table):
  tile bit          = recorded tile whose subtree holds any content
                      (equivalently n_instances > 0)
  content bit       = content_available
  child-subtree bit = recorded boundary tile (local level == s) with
                      n_instances > 0

The tiles table is tiny relative to instances (README.md:179: 372 subtree
files for 588k instances). One assembly core (:func:`_assemble_pairs`,
one sort of (root, tile) pairs) runs either on the driver over the whole
table (:func:`build_subtrees_pandas_for_roots`) or in executors once per
partition of a tile-row shuffle by root (:func:`build_subtrees_spark`);
:func:`build_subtrees_pandas` is the per-root reference.
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pandas as pd

from ..functions.cells import morton_encode


def subtree_roots(levels, xs, ys, subtree_levels: int):
    """Map absolute tile keys -> (root_level, root_x, root_y) of the subtree
    each tile is INTERIOR to. Boundary tiles (local level == s) are interior
    to their own subtree but also feed the parent subtree's
    childSubtreeAvailability — handled at assembly time."""
    levels = np.asarray(levels, np.int64)
    xs = np.asarray(xs, np.int64)
    ys = np.asarray(ys, np.int64)
    root_level = (levels // subtree_levels) * subtree_levels
    shift = levels - root_level
    return root_level, xs >> shift, ys >> shift


def _local_bit_index(local_level, lx, ly):
    """Bit offset inside the level-major Morton layout:
    offset(level) = (4^level - 1)/3, index = offset + morton(lx, ly)."""
    offset = ((np.int64(4) ** np.asarray(local_level, np.int64)) - 1) // 3
    return offset + morton_encode(lx, ly)


def _pack_bits(indices, n_bits: int) -> bytes:
    bits = np.zeros(n_bits, dtype=np.uint8)
    idx = np.asarray(indices, np.int64)
    if idx.size:
        bits[idx] = 1
    return np.packbits(bits, bitorder="little").tobytes()


def _pad8(b: bytes, pad: bytes) -> bytes:
    if len(b) % 8:
        b += pad * (8 - len(b) % 8)
    return b


def subtree_bitstrings(rows: pd.DataFrame, root_level: int, root_x: int,
                       root_y: int, subtree_levels: int):
    """(tileAvailability, contentAvailability, childSubtreeAvailability) as
    '0'/'1' strings in Morton order — the exact representation the
    reference's wrapper consumes (src/ImplicitTiling.cs:13-31).

    ``rows`` must hold the recorded tiles at absolute levels
    [root_level, root_level + s]; out-of-subtree rows are ignored.
    """
    s = subtree_levels
    n_interior = (4**s - 1) // 3
    tile_b = np.zeros(n_interior, np.uint8)
    content_b = np.zeros(n_interior, np.uint8)
    child_b = np.zeros(4**s, np.uint8)

    levels = rows["level"].to_numpy(np.int64)
    xs = rows["x"].to_numpy(np.int64)
    ys = rows["y"].to_numpy(np.int64)
    content = rows["content_available"].to_numpy(bool)
    has_content_below = rows["n_instances"].to_numpy(np.int64) > 0

    ll = levels - root_level
    lx = xs - (np.int64(root_x) << np.maximum(ll, 0))
    ly = ys - (np.int64(root_y) << np.maximum(ll, 0))
    in_range = (
        (ll >= 0) & (ll <= s)
        & (lx >= 0) & (ly >= 0)
        & (lx < (1 << np.maximum(ll, 0))) & (ly < (1 << np.maximum(ll, 0)))
    )

    interior = in_range & (ll < s)
    if interior.any():
        idx = _local_bit_index(ll[interior], lx[interior], ly[interior])
        tile_b[idx[has_content_below[interior]]] = 1
        content_b[idx[content[interior]]] = 1

    boundary = in_range & (ll == s)
    if boundary.any():
        cidx = morton_encode(lx[boundary], ly[boundary])
        child_b[cidx[has_content_below[boundary]]] = 1

    return (
        "".join(map(str, tile_b)),
        "".join(map(str, content_b)),
        "".join(map(str, child_b)),
    )


_HEADER_CACHE: dict = {}


def _header_for_lengths(n_tile: int, n_content: int, n_child: int):
    """header + JSON chunk + per-chunk padded offsets for given bitstream
    lengths. The JSON depends ONLY on the lengths (fixed per
    subtree_levels), so it is built once and reused across the millions of
    subtree files of one export."""
    key = (n_tile, n_content, n_child)
    hit = _HEADER_CACHE.get(key)
    if hit is not None:
        return hit
    views = []
    off = 0
    padded = []
    for n_bits in key:
        n_bytes = (n_bits + 7) // 8
        views.append({"buffer": 0, "byteOffset": off, "byteLength": n_bytes})
        pad = (8 - n_bytes % 8) % 8
        padded.append((n_bytes, pad))
        off += n_bytes + pad
    sub_json = {
        "buffers": [{"byteLength": off}],
        "bufferViews": views,
        "tileAvailability": {"bitstream": 0},
        "contentAvailability": [{"bitstream": 1}],
        "childSubtreeAvailability": {"bitstream": 2},
    }
    jbytes = _pad8(json.dumps(sub_json, separators=(",", ":")).encode(), b" ")
    header = struct.pack("<4sIQQ", b"subt", 1, len(jbytes), off)
    out = (header + jbytes, padded)
    _HEADER_CACHE[key] = out
    return out


def serialize_subtree(tile_bits: str, content_bits: str, child_bits: str) -> bytes:
    """Bitstrings -> .subtree binary (public 3D Tiles 1.1 layout)."""
    prefix, padded = _header_for_lengths(
        len(tile_bits), len(content_bits), len(child_bits)
    )
    parts = [prefix]
    for b, (_n_bytes, pad) in zip((tile_bits, content_bits, child_bits), padded):
        chunk = _pack_bits(
            np.flatnonzero(np.frombuffer(b.encode(), np.uint8) == ord("1")),
            len(b),
        )
        parts.append(chunk)
        if pad:
            parts.append(b"\x00" * pad)
    return b"".join(parts)


def build_subtrees_pandas(tiles_pdf: pd.DataFrame, subtree_levels: int = 2):
    """All subtree files from the collected tiles table.

    Returns {(level, x, y): (tile_bits, content_bits, child_bits, bytes)}.
    A subtree file exists for every subtree root whose subtree records any
    content (mirrors the reference: only reachable subtrees are written).
    """
    s = subtree_levels
    r_level, r_x, r_y = subtree_roots(
        tiles_pdf["level"], tiles_pdf["x"], tiles_pdf["y"], s
    )
    has_content = tiles_pdf["n_instances"].to_numpy(np.int64) > 0

    roots = set()
    for rl, rx, ry, hc in zip(r_level, r_x, r_y, has_content):
        if hc:
            roots.add((int(rl), int(rx), int(ry)))

    out = {}
    levels = tiles_pdf["level"].to_numpy(np.int64)
    xs = tiles_pdf["x"].to_numpy(np.int64)
    ys = tiles_pdf["y"].to_numpy(np.int64)
    for rl, rx, ry in sorted(roots):
        ll = levels - rl
        sel = (ll >= 0) & (ll <= s)
        sel &= (xs >> np.maximum(ll, 0)) == rx
        sel &= (ys >> np.maximum(ll, 0)) == ry
        rows = tiles_pdf[sel]
        bits = subtree_bitstrings(rows, rl, rx, ry, s)
        out[(rl, rx, ry)] = (*bits, serialize_subtree(*bits))
    return out


def n_subtree_roots(tiles_pdf, subtree_levels: int) -> int:
    """Number of subtree files a tiles frame yields: distinct roots of the
    tiles holding content (the existence rule of every assembler)."""
    hc = tiles_pdf["n_instances"].to_numpy(np.int64) > 0
    rl, rx, ry = subtree_roots(
        tiles_pdf["level"].to_numpy(np.int64)[hc],
        tiles_pdf["x"].to_numpy(np.int64)[hc],
        tiles_pdf["y"].to_numpy(np.int64)[hc], subtree_levels,
    )
    if not len(rl):
        return 0
    return len(np.unique(np.stack([rl, rx, ry], axis=1), axis=0))


def build_subtrees_pandas_for_roots(tiles_pdf, roots=None,
                                    subtree_levels: int = 2):
    """Assemble the requested subtree roots (every root when ``roots`` is
    None) from a collected tiles frame. Returns ``[(root_level, root_x,
    root_y, payload)]`` in sorted root order, byte-identical to
    :func:`build_subtrees_pandas` and :func:`build_subtrees_spark`
    (parity-tested); requested roots recording no content are skipped —
    the same existence rule (any interior row with content).

    The (root, tile) pairs of :func:`root_pairs` go through
    :func:`_assemble_pairs`, the one assembly core, which
    :func:`build_subtrees_spark` runs per partition too. Full quadtrees
    at ``subtree_levels=2`` on a 4-core host: 4,369 roots over 5,461
    tiles in 0.005 s (the earlier per-root frame-mask loop: 2.8 s),
    69,905 roots over 87,381 tiles in 0.09 s (128 s)."""
    levels, xs, ys = (tiles_pdf[c].to_numpy(np.int64)
                      for c in ("level", "x", "y"))
    rl, rx, ry, tile = root_pairs(levels, xs, ys, subtree_levels)
    return _assemble_pairs(
        rl, rx, ry, levels[tile], xs[tile], ys[tile],
        tiles_pdf["content_available"].to_numpy(bool)[tile],
        tiles_pdf["n_instances"].to_numpy(np.int64)[tile] > 0,
        subtree_levels, roots,
    )


def root_pairs(levels, xs, ys, subtree_levels: int):
    """(root_level, root_x, root_y, tile index) of every (subtree root,
    tile) pair whose bitstreams read the tile: its own root (interior),
    plus the parent root of a boundary tile (local level s,
    childSubtreeAvailability). Numpy twin of :func:`subtree_tile_pairs`."""
    s = subtree_levels
    own_l, own_x, own_y = subtree_roots(levels, xs, ys, s)
    b = np.flatnonzero((levels % s == 0) & (levels > 0))
    return (np.concatenate([own_l, levels[b] - s]),
            np.concatenate([own_x, xs[b] >> s]),
            np.concatenate([own_y, ys[b] >> s]),
            np.concatenate([np.arange(len(levels)), b]))


def _assemble_pairs(rl, rx, ry, levels, xs, ys, content, hc, s, roots=None):
    """The assembly core over (root, tile) pairs given as arrays: root key,
    tile key, content flag and has-content flag per pair. Every root's
    pairs must be present. Returns ``[(root_level, root_x, root_y,
    payload)]`` in sorted root order for the roots recording content
    (within ``roots``, a set of root keys, when given).

    One sort by root, no per-root frame masks: every pair sets its bit
    in a (roots x binary-buffer) byte matrix, and a payload is the shared
    header plus its matrix row."""
    order = np.lexsort((ry, rx, rl))
    rl, rx, ry, levels, xs, ys, content, hc = (
        np.asarray(a)[order]
        for a in (rl, rx, ry, levels, xs, ys, content, hc))
    if not len(rl):
        return []
    first = np.ones(len(rl), bool)
    first[1:] = ((rl[1:] != rl[:-1]) | (rx[1:] != rx[:-1])
                 | (ry[1:] != ry[:-1]))
    gid = np.cumsum(first) - 1
    g_l, g_x, g_y = rl[first], rx[first], ry[first]

    ll = levels - rl
    interior = ll < s
    keep = np.zeros(len(g_l), bool)
    keep[gid[interior & hc]] = True
    if roots is not None:
        want = {(int(a), int(c), int(d)) for a, c, d in roots}
        keep &= np.fromiter(
            (k in want for k in zip(g_l.tolist(), g_x.tolist(),
                                    g_y.tolist())),
            bool, len(g_l))
    row = np.cumsum(keep) - 1
    sel = keep[gid]
    ll, interior, gid = ll[sel], interior[sel], gid[sel]
    content, hc = content[sel], hc[sel]
    bit = _local_bit_index(ll, xs[sel] - (rx[sel] << ll),
                           ys[sel] - (ry[sel] << ll))

    n_interior = (4**s - 1) // 3
    prefix, padded = _header_for_lengths(n_interior, n_interior, 4**s)
    starts = np.cumsum([0] + [n + p for n, p in padded])
    buf = np.zeros((int(keep.sum()), int(starts[-1])), np.uint8)
    for start, on, pos in (
        (starts[0], interior & hc, bit),  # tileAvailability
        (starts[1], interior & content, bit),  # contentAvailability
        # boundary tiles: local level s starts right after the interior
        (starts[2], ~interior & hc, bit - n_interior),  # child
    ):
        p = pos[on]
        np.bitwise_or.at(
            buf, (row[gid[on]], start + (p >> 3)),
            np.left_shift(1, p & 7).astype(np.uint8),
        )
    return [
        (a, b, c, prefix + buf[i].tobytes())
        for i, (a, b, c) in enumerate(zip(
            g_l[keep].tolist(), g_x[keep].tolist(), g_y[keep].tolist()))
    ]


def _payload_bitstrings(payload: bytes, s: int) -> tuple[str, str, str]:
    """The three bitstreams of a subtree payload as '0'/'1' strings."""
    n_interior = (4**s - 1) // 3
    prefix, padded = _header_for_lengths(n_interior, n_interior, 4**s)
    buf = np.frombuffer(payload, np.uint8, offset=len(prefix))
    out, start = [], 0
    for n_bits, (n_bytes, pad) in zip((n_interior, n_interior, 4**s), padded):
        bits = np.unpackbits(buf[start:start + n_bytes], bitorder="little")
        out.append("".join(map(str, bits[:n_bits])))
        start += n_bytes + pad
    return tuple(out)


def subtree_tile_pairs(tiles, subtree_levels: int):
    """(subtree root, tile) pairs as a DataFrame — the distributed twin of
    :func:`root_pairs`.

    Every tile maps to the root of the subtree it is INTERIOR to
    (local level in [0, s)); tiles sitting exactly on a subtree-root level
    additionally feed the PARENT subtree as boundary rows (local level s,
    childSubtreeAvailability). Pure JVM expressions, no UDF.
    """
    from pyspark.sql import functions as F

    s = subtree_levels
    t = tiles.select("level", "x", "y", "content_available", "n_instances")
    own = t.select(
        (F.col("level") - F.col("level") % s).cast("int").alias("root_level"),
        F.expr(f"shiftright(x, CAST(level % {s} AS INT))").cast("long").alias("root_x"),
        F.expr(f"shiftright(y, CAST(level % {s} AS INT))").cast("long").alias("root_y"),
        "level", "x", "y", "content_available", "n_instances",
    )
    parent = t.filter((F.col("level") % s == 0) & (F.col("level") > 0)).select(
        (F.col("level") - s).cast("int").alias("root_level"),
        F.expr(f"shiftright(x, {s})").cast("long").alias("root_x"),
        F.expr(f"shiftright(y, {s})").cast("long").alias("root_y"),
        "level", "x", "y", "content_available", "n_instances",
    )
    return own.unionByName(parent)


_SUBTREE_SCHEMA = (
    "root_level int, root_x long, root_y long, "
    "tile_bits string, content_bits string, child_bits string, payload binary"
)


def build_subtrees_spark(tiles, subtree_levels: int = 2, roots=None):
    """T4 at scale: all subtree files assembled IN EXECUTORS.

    One shuffle of (root, tile) pairs (:func:`subtree_tile_pairs`, tile
    rows, never instances) hash-partitioned by subtree root, then the
    driver's assembly core (:func:`_assemble_pairs`) runs once per
    PARTITION through ``packaging.map_kernel`` — thousands of roots per
    sort, so per-root overhead is C-level, not a Spark task round-trip.
    Assembles a full level-10 tree (1.4M tiles -> 1.1M subtree files) in
    seconds; the 10^8-tile regime the driver-side
    :func:`build_subtrees_pandas` cannot reach (the reference delegates to
    a single-process NuGet package, src/ImplicitTiling.cs:13-31).

    Returns a DataFrame (root_level, root_x, root_y, tile_bits,
    content_bits, child_bits, payload) with one row per subtree file,
    bit-identical to :func:`build_subtrees_pandas` (parity-tested).

    ``roots`` (optional DataFrame of root_level/root_x/root_y) restricts
    assembly to those subtrees — the tile-row shuffle and every payload
    build then scale with the requested root set (an incremental append's
    dirty region), not the corpus tree. The filter is a broadcast
    semi-join BEFORE the repartition, so unrequested tile rows never
    shuffle.
    """
    from pyspark.sql import functions as F

    from ..packaging import map_kernel

    s = subtree_levels
    root = ["root_level", "root_x", "root_y"]
    pairs = subtree_tile_pairs(tiles, s)
    if roots is not None:
        pairs = pairs.join(F.broadcast(roots.select(*root)), root, "left_semi")

    def assemble(pdf):
        subs = _assemble_pairs(
            *(pdf[c].to_numpy(np.int64) for c in (*root, "level", "x", "y")),
            pdf["content_available"].to_numpy(bool),
            pdf["n_instances"].to_numpy(np.int64) > 0, s,
        )
        return pd.DataFrame(
            [(a, b, c, *_payload_bitstrings(p, s), p) for a, b, c, p in subs],
            columns=[*root, "tile_bits", "content_bits", "child_bits",
                     "payload"],
        )

    return map_kernel(assemble, pairs, _SUBTREE_SCHEMA, by=root)


def parse_subtree(data: bytes):
    """Round-trip reader for tests: returns (json_dict, raw_buffer)."""
    magic, version, jlen, blen = struct.unpack("<4sIQQ", data[:24])
    assert magic == b"subt" and version == 1
    j = json.loads(data[24 : 24 + jlen].decode())
    buf = data[24 + jlen : 24 + jlen + blen]
    return j, buf
