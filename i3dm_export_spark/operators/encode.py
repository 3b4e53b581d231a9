"""EP4/A4/A6/K1/K4: per-tile payload encoding (i3dm / cmpt) + tileset.json.

From-scratch writers for the public 3D Tiles 1.0 i3dm/cmpt binary layouts
(the reference uses the external i3dm.tile / cmpt NuGet packages, invoked at
src/TileHandler.cs:70, src/TileHandler.cs:51). Semantics reproduced:

* RTC_CENTER = FIRST instance position of the tile under the engine's fixed
  total order (reference: first fetched row, src/TileHandler.cs:65,185 —
  DB-order-dependent there, url-order here per FIXTURES.md §5);
* positions stored float32 relative to RTC (src/TileHandler.cs:217-225);
* NORMAL_UP/NORMAL_RIGHT from the ENU basis (ECEF mode,
  src/TileHandler.cs:104-113) or constant identity basis (keep_projection,
  src/TileHandler.cs:95-102);
* batch table = per-tile pivot of the JSON tags with the schema taken from
  the FIRST instance and every value HTML-encoded to a string
  (src/TinyJson.cs:12-43, golden '{"id":["123"],"name":["test"]}');
* cmpt wraps one i3dm per distinct model (src/TileHandler.cs:39-53);
* feature/batch JSON chunks are space-padded to 8-byte alignment per spec.

The encoder is a grouped ``applyInPandas`` over (level, x, y) — pandas is
already columnar, so the reference's row->column array building
(src/TileHandler.cs:74-116) disappears. Under clustering its group
function first reduces an over-full tile (:func:`tile_members`), as the
reference reduces and encodes each tile in one step
(src/ImplicitTiling.cs:45-47).
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pandas as pd

from ..functions import geodesy as geo
from .clustering import reduce_tile


# ---------------------------------------------------------------------------
# A4: batch-table pivot with TinyJson parity
# ---------------------------------------------------------------------------

def _html_encode(value: str) -> str:
    """.NET HttpUtility.HtmlEncode parity for the characters it escapes
    (reference src/TinyJson.cs:26): & < > " '."""
    return (
        value.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&#39;")
    )


def batch_table_json(tags: list) -> str | None:
    """Per-tile batch table. ``tags`` is a list of per-instance JSON strings
    (arrays of single-key objects, README.md:218-227) or None.

    Parity with reference src/TinyJson.cs:
    - properties = keys of the FIRST instance's tags, skipping object values
      (GetProperties, :67-83);
    - values = every instance's value for that key, string-ified and
      HTML-encoded (ToJson/GetValues, :12-65); instances lacking the key
      contribute nothing (column may be shorter — reference behavior).
    """
    if not tags or tags[0] is None:
        return None
    first = json.loads(tags[0])
    props = []
    for obj in first:
        if not isinstance(obj, dict):
            continue
        for key, val in obj.items():
            if not isinstance(val, (dict,)):
                props.append(key)
    if not props:
        return "{}"
    parsed = [json.loads(t) if t is not None else [] for t in tags]
    parts = []
    for prop in props:
        vals = []
        for arr in parsed:
            for obj in arr:
                if isinstance(obj, dict) and prop in obj:
                    v = obj[prop]
                    if isinstance(v, bool):
                        v = "True" if v else "False"  # .NET ToString parity
                    vals.append('"%s"' % _html_encode(str(v)))
        parts.append('"%s":[%s]' % (prop, ",".join(vals)))
    return "{%s}" % ",".join(parts)


# ---------------------------------------------------------------------------
# i3dm / cmpt binary writers (public 3D Tiles 1.0 spec)
# ---------------------------------------------------------------------------

def _pad_to(b: bytes, boundary: int, pad: bytes) -> bytes:
    if len(b) % boundary:
        b += pad * (boundary - len(b) % boundary)
    return b


# minimal valid embedded glb placeholder used when no model bytes are given
# (this container has no mesh decoding libs; the reference embeds the model
# glb read from disk, src/TileHandler.cs:127-154)
_STUB_GLTF = json.dumps(
    {
        "asset": {"version": "2.0", "generator": "i3dm_export_spark"},
        "scene": 0,
        "scenes": [{"nodes": []}],
        "nodes": [],
    },
    separators=(",", ":"),
).encode()


def stub_glb() -> bytes:
    j = _pad_to(_STUB_GLTF, 4, b" ")
    return struct.pack("<4sII", b"glTF", 2, 12 + 8 + len(j)) + struct.pack(
        "<I4s", len(j), b"JSON"
    ) + j


def write_i3dm(
    positions_rel: np.ndarray,
    rtc_center,
    scales: np.ndarray | None = None,
    scales_non_uniform: np.ndarray | None = None,
    normal_ups: np.ndarray | None = None,
    normal_rights: np.ndarray | None = None,
    batch_json: str | None = None,
    glb: bytes | None = None,
    external_uri: str | None = None,
) -> bytes:
    """i3dm: 32-byte header, feature-table JSON+binary, batch-table JSON,
    then embedded glb (gltfFormat=1) or external uri (gltfFormat=0)."""
    n = len(positions_rel)
    ft: dict = {"INSTANCES_LENGTH": n}
    body = b""

    def add(name, arr):
        nonlocal body, ft
        ft[name] = {"byteOffset": len(body)}
        body += np.ascontiguousarray(arr, dtype=np.float32).tobytes()

    add("POSITION", positions_rel)
    if normal_ups is not None:
        add("NORMAL_UP", normal_ups)
    if normal_rights is not None:
        add("NORMAL_RIGHT", normal_rights)
    if scales_non_uniform is not None:
        add("SCALE_NON_UNIFORM", scales_non_uniform)
    elif scales is not None:
        add("SCALE", scales)
    ft["RTC_CENTER"] = [float(v) for v in rtc_center]

    ft_json = _pad_to(json.dumps(ft, separators=(",", ":")).encode(), 8, b" ")
    ft_bin = _pad_to(body, 8, b"\x00")
    bt_json = b""
    if batch_json is not None:
        bt_json = _pad_to(batch_json.encode(), 8, b" ")

    if external_uri is not None:
        payload = external_uri.encode()
        gltf_format = 0
    else:
        payload = glb if glb is not None else stub_glb()
        gltf_format = 1

    total = 32 + len(ft_json) + len(ft_bin) + len(bt_json) + len(payload)
    header = struct.pack(
        "<4sIIIIIII", b"i3dm", 1, total, len(ft_json), len(ft_bin),
        len(bt_json), 0, gltf_format,
    )
    return header + ft_json + ft_bin + bt_json + payload


def write_cmpt(inner_tiles: list[bytes]) -> bytes:
    """cmpt: 16-byte header + concatenated inner tiles (8-byte aligned)."""
    body = b""
    for t in inner_tiles:
        body += _pad_to(t, 8, b"\x00")
    header = struct.pack("<4sIII", b"cmpt", 1, 16 + len(body), len(inner_tiles))
    return header + body


def parse_i3dm(data: bytes):
    """Round-trip reader for tests."""
    (magic, version, total, ftj, ftb, btj, btb, fmt) = struct.unpack(
        "<4sIIIIIII", data[:32]
    )
    assert magic == b"i3dm" and version == 1 and total == len(data)
    off = 32
    ft = json.loads(data[off : off + ftj].decode())
    off += ftj
    ft_bin = data[off : off + ftb]
    off += ftb
    bt = json.loads(data[off : off + btj].decode()) if btj else None
    off += btj + btb
    payload = data[off:]
    return ft, ft_bin, bt, payload


def parse_cmpt(data: bytes):
    magic, version, total, n = struct.unpack("<4sIII", data[:16])
    assert magic == b"cmpt" and version == 1 and total == len(data)
    tiles = []
    off = 16
    for _ in range(n):
        inner_total = struct.unpack("<I", data[off + 8 : off + 12])[0]
        tiles.append(data[off : off + inner_total])
        off += inner_total
        if off % 8:
            off += 8 - off % 8
    return tiles


# ---------------------------------------------------------------------------
# per-tile encode (grouped pandas)
# ---------------------------------------------------------------------------

def encode_tile_pdf(
    pdf: pd.DataFrame,
    keep_projection: bool = False,
    use_i3dm: bool = False,
    use_scale_non_uniform: bool = False,
    use_external_model: bool = False,
    order_col: str = "url",
    model_glbs: dict | None = None,
) -> bytes:
    """One content tile's rows -> cmpt/i3dm bytes (EP4).

    Expects ECEF columns x_ecef/y_ecef/z_ecef (keep_projection=False) or
    lon/lat/z used verbatim (keep_projection=True mirrors the reference's
    untransformed path), plus scale, yaw, pitch, roll, model, tags.
    """
    pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)

    if keep_projection:
        pos = pdf[["lon", "lat", "z"]].to_numpy(np.float64)
    else:
        pos = pdf[["x_ecef", "y_ecef", "z_ecef"]].to_numpy(np.float64)

    def one_i3dm(sub: pd.DataFrame, sub_pos: np.ndarray, model) -> bytes:
        first = sub_pos[0]
        rel = geo.relative_positions_f32(sub_pos, first)
        rtc = (float(first[0]), float(first[1]), float(first[2]))
        if keep_projection:
            n = len(sub)
            rights = np.tile(np.array([1, 0, 0], np.float32), (n, 1))
            ups = np.tile(np.array([0, 1, 0], np.float32), (n, 1))
        else:
            east, north, _ = geo.local_enu_basis(
                sub_pos.astype(np.float32),
                sub["yaw"].to_numpy(np.float64),
                sub["pitch"].to_numpy(np.float64),
                sub["roll"].to_numpy(np.float64),
            )
            rights, ups = east, north
        scales = None
        snu = None
        if use_scale_non_uniform:
            snu = np.stack(sub["scale_non_uniform"].to_numpy())
        else:
            scales = sub["scale"].to_numpy(np.float32)
        bt = batch_table_json(list(sub["tags"])) if "tags" in sub else None
        glb = None
        uri = None
        if use_external_model:
            uri = str(model)
        elif model_glbs and model in model_glbs:
            glb = model_glbs[model]
        return write_i3dm(
            rel, rtc, scales=scales, scales_non_uniform=snu,
            normal_ups=ups, normal_rights=rights, batch_json=bt,
            glb=glb, external_uri=uri,
        )

    if use_i3dm:
        # reference: single i3dm from the FIRST model (src/ImplicitTiling.cs:151)
        return one_i3dm(pdf, pos, pdf["model"].iloc[0])

    # cmpt: one i3dm per distinct model, first-seen order (A3,
    # reference src/TileHandler.cs:41-49 uses LINQ Distinct = stable order)
    tiles = []
    seen = []
    for m in pdf["model"]:
        if m not in seen:
            seen.append(m)
    for m in seen:
        mask = (pdf["model"] == m).to_numpy()
        tiles.append(one_i3dm(pdf[mask].reset_index(drop=True), pos[mask], m))
    return write_cmpt(tiles)


def _encode_input_cols(opts, order_col: str, available: set[str]) -> list[str]:
    """Exactly the columns the per-tile encoder consumes — everything else
    is pruned BEFORE the tile-key shuffle (the one big exchange in the
    pipeline; ~25% byte reduction on the stage-0 schema).

    The export's input has no ECEF columns, so the encoder runs FUSED:
    lon/lat/z ride the shuffle and the ECEF transform happens inside the
    per-tile group function — one Arrow round-trip over the data instead
    of two (a separate stage1_encode pandas-UDF pass costs a full
    serialize+deserialize of every row). Precomputed x/y/z_ecef columns,
    when present, are consumed as-is (same bytes, parity-tested)."""
    cols = ["level", "x", "y", order_col, "scale", "yaw", "pitch", "roll",
            "model", "tags"]
    if opts.keep_projection or "x_ecef" not in available:
        cols += ["lon", "lat", "z"]
    if not opts.keep_projection:
        cols += ["x_ecef", "y_ecef", "z_ecef"]
    if opts.use_scale_non_uniform:
        cols.append("scale_non_uniform")
    return [c for c in cols if c in available]


def _ensure_ecef_cols(pdf: pd.DataFrame, keep_projection: bool) -> pd.DataFrame:
    """Fused-mode F17: add x/y/z_ecef from lon/lat/z when absent —
    identical float64 arithmetic to plans/pipeline.stage1_encode, so
    payloads are byte-identical either way (parity-tested)."""
    if keep_projection or "x_ecef" in pdf.columns:
        return pdf
    from ..functions import geodesy as geo

    xyz = geo.wgs84_to_ecef(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pdf["z"].to_numpy()
    )
    pdf = pdf.copy()
    pdf["x_ecef"], pdf["y_ecef"], pdf["z_ecef"] = xyz[:, 0], xyz[:, 1], xyz[:, 2]
    return pdf


def prepare_models(
    model_glbs: dict, opts, output_dir: str | None = None
) -> tuple[dict, dict]:
    """Driver-side model-side-input prep (S6/J2; models are few and shared
    so this never touches the data plane):

    * path-valued entries are loaded from disk; byte-valued pass through
      (reference handles both at src/TileHandler.cs:122,161);
    * keep_projection applies the F10 base rotation
      (src/TileHandler.cs:16-38) to every glb;
    * K5: external texture refs are collected across ALL models first
      (so shared file names resolve to textures/_shared/), image URIs are
      rewritten in each glb, and the texture files are copied once into
      ``output_dir`` (src/ExternalTextureHelper.cs:11-126).

    Returns (prepared {model: glb_bytes}, {source_path: relative_uri})."""
    from ..functions import glbtools

    loaded: dict[str, bytes] = {}
    paths: dict[str, str] = {}
    for name, value in model_glbs.items():
        if isinstance(value, (bytes, bytearray)):
            loaded[name] = bytes(value)
            paths[name] = str(name)
        else:
            with open(value, "rb") as f:
                loaded[name] = f.read()
            paths[name] = str(value)

    external: dict[str, str] = {}
    parsed = {}
    for name, data in loaded.items():
        gltf, bin_chunk = glbtools.parse_glb(data)
        parsed[name] = (gltf, bin_chunk)
        glbtools.collect_external_textures(external, paths[name], gltf)

    prepared: dict[str, bytes] = {}
    for name, (gltf, bin_chunk) in parsed.items():
        if external:
            glbtools.configure_external_texture_uris(gltf, external, output_dir)
        data = glbtools.write_glb(gltf, bin_chunk)
        if opts.keep_projection:
            data = glbtools.rotate_model_for_cartesian(data)
        prepared[name] = data

    if output_dir and external:
        glbtools.copy_external_textures(output_dir, external, set())
    return prepared, external


def tile_members(pdf: pd.DataFrame, opts, order_col: str = "url") -> pd.DataFrame:
    """The rows a content tile encodes: under clustering, the LOD reduce of
    an over-full tile to exactly ``max_features_per_tile`` representatives
    (:func:`~.clustering.reduce_tile`; for a hot tile this is the second
    stage over the survivors of ``skew.cluster_tiles_salted``), else every
    row (reference src/ImplicitTiling.cs:45-47)."""
    if not opts.use_clustering:
        return pdf
    return reduce_tile(pdf, opts.max_features_per_tile,
                       seed=opts.cluster_seed, order_col=order_col,
                       use_ecef=not opts.keep_projection)


def encode_tile(pdf: pd.DataFrame, opts, order_col: str = "url",
                model_glbs: dict | None = None) -> bytes:
    """One content tile's rows -> its payload under ``opts``: the LOD
    reduce (:func:`tile_members`), the ECEF transform in-group (fused
    mode), then the GPU glb or the i3dm/cmpt encoder. The one per-tile
    kernel of the export's :func:`encode_tiles` and both plans of the
    append's re-encode, so a tile is reduced and encoded in one step."""
    pdf = _ensure_ecef_cols(tile_members(pdf, opts, order_col),
                            opts.keep_projection)
    if opts.use_gpu_instancing:
        from .gpu_encode import encode_gpu_tile_pdf

        return encode_gpu_tile_pdf(
            pdf, keep_projection=opts.keep_projection,
            use_scale_non_uniform=opts.use_scale_non_uniform,
            order_col=order_col,
        )
    return encode_tile_pdf(
        pdf, keep_projection=opts.keep_projection, use_i3dm=opts.use_i3dm,
        use_scale_non_uniform=opts.use_scale_non_uniform,
        use_external_model=opts.use_external_model,
        order_col=order_col, model_glbs=model_glbs,
    )


def encode_tiles(assigned, opts, order_col: str = "url",
                 model_glbs: dict | None = None):
    """Stage-4 reduce + encode over all content tiles: grouped
    applyInPandas of :func:`encode_tile` -> one row per tile with the
    payload bytes column (K1 sink-ready). The physical
    shape — column-pruned input, one hash shuffle on the tile key, no sort —
    beat two measured alternatives on local[32], 24M rows / 14,744 tiles:
    range partition + sort + one batch-grouping ``mapInPandas`` pass took
    36.3 s vs 26.9 s (sampling pass + per-partition sort; per-group
    overhead is negligible at ~3000-row groups), and ``applyInArrow`` +
    per-group ``to_pandas`` took 26.4-33.8 s vs 16.7-20.9 s interleaved
    (Spark's grouped-pandas serde builds the frame cheaper).

    ``model_glbs`` ({model name: glb bytes}, e.g. from
    :func:`prepare_models`) is captured by closure — it rides the
    serialized UDF to every executor once, the broadcast-side-input shape
    for a small shared dim (SURVEY.md J2)."""
    assigned = assigned.select(
        *_encode_input_cols(opts, order_col, set(assigned.columns))
    )
    from pyspark.sql import types as T

    from ..packaging import ensure_shipped

    ensure_shipped(assigned.sparkSession)

    schema = T.StructType(
        [
            T.StructField("level", T.IntegerType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    # no type hints: pyspark infers the eval type from them, and a partly
    # annotated (key, pdf) signature makes it warn on every call
    def _encode(key, pdf):
        return pd.DataFrame(
            {
                "level": [int(key[0])], "x": [int(key[1])], "y": [int(key[2])],
                "payload": [encode_tile(pdf, opts, order_col, model_glbs)],
            }
        )

    return assigned.groupBy("level", "x", "y").applyInPandas(_encode, schema=schema)


# ---------------------------------------------------------------------------
# K4: tileset.json (reference src/TreeSerializer.cs:9-39)
# ---------------------------------------------------------------------------

def tileset_json(
    region_or_box: list[float],
    geometric_error: float,
    available_levels: int,
    subtree_levels: int,
    version: str = "0.1.0",
    use_gpu_instancing: bool = False,
    use_i3dm: bool = False,
    tileset_version: str = "",
    keep_projection: bool = False,
    crs: str = "",
) -> str:
    ext = "glb" if use_gpu_instancing else ("i3dm" if use_i3dm else "cmpt")
    asset = {"version": "1.1", "generator": f"i3dm_export_spark {version}"}
    if tileset_version:
        asset["tilesetVersion"] = tileset_version
    if crs:
        asset["crs"] = crs
    if keep_projection:
        # 12-float box volume, center rounded to 6 decimals
        # (reference src/TreeSerializer.cs:58-81)
        xmin, ymin, xmax, ymax, zmin, zmax = region_or_box
        bounding = {
            "box": [
                round((xmin + xmax) / 2.0, 6),
                round((ymin + ymax) / 2.0, 6),
                round((zmin + zmax) / 2.0, 6),
                (xmax - xmin) / 2, 0, 0,
                0, (ymax - ymin) / 2, 0,
                0, 0, (zmax - zmin) / 2,
            ]
        }
    else:
        bounding = {"region": region_or_box}
    tileset = {
        "asset": asset,
        "geometricError": geometric_error,
        "root": {
            "boundingVolume": bounding,
            "geometricError": geometric_error,
            "refine": "ADD",
            "content": {"uri": "content/{level}_{x}_{y}." + ext},
            "implicitTiling": {
                "subdivisionScheme": "QUADTREE",
                "availableLevels": available_levels,
                "subtreeLevels": subtree_levels,
                "subtrees": {"uri": "subtrees/{level}_{x}_{y}.subtree"},
            },
        },
    }
    return json.dumps(tileset, indent=2)
