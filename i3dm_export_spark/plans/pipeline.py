"""EP1 equivalent: the end-to-end export pipeline (SURVEY.md §3.2).

    pages (url, warc_ts, html, text, lang, geocode cols)
      -> stage0_instances   project + geocode + text-invariant fingerprint
      -> stage2 tile tree   (operators/tiling.build_tile_tree — one shuffle)
      -> stage3_assigned    leaf assignment (+ salt-aware repartition)
      -> content sink       one grouped pass per tile: the k-means LOD
                            reduce (clustering only; hot tiles salted and
                            pre-reduced first) and the encode, piped
                            straight into the executor writer:
                            content/{z}_{x}_{y}.cmpt|i3dm + its manifest
      -> subtree sink       subtrees/*.subtree + its manifest: assembled
                            and written on the driver from the driver-held
                            tile table under the budgets
                            (sinks.write_subtrees), else a tile-row
                            shuffle piped into the executor writer
      -> tileset.json

ECEF is computed inside the per-tile encoder and the k-means reducer from
one float64 kernel, so no stage materializes it: that saves a full-width
write and one full pass over the input.

Stages 0, 2 and 3 checkpoint through plans/checkpoint.CheckpointManager
with per-part-file lineage read from parquet footers; a killed export rerun
with the same output dir skips completed stages (resume test in
tests/test_pipeline.py). Neither the reduced rows nor the payloads are
checkpointed: the sink manifests are the durable output of the tail, and
a rerun re-reduces (deterministic: url order, seeded k-means) and
re-encodes from stage 3 while the sinks' content-compare fast path leaves
current files untouched. Facts the driver already holds — the stage done
markers' row counts, the driver-built tile table — answer the summary and
the tree's row estimate instead of extra Spark jobs.

Heavy payload columns (html) are projected away in stage 0 and never enter
a shuffle (SURVEY.md §7 hazard 8); the byte-identical-text-per-url
invariant is enforced by carrying an xxhash64 fingerprint of ``text``
through every checkpoint and re-validating at the end.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import Bounds, ExportOptions
from ..functions import geodesy as geo
from ..functions.cells import s2_cell_id
from ..operators import encode as enc
from ..operators import extent, tiling
from ..operators.skew import cluster_tiles_salted, hot_tile_keys
from . import sinks
from .checkpoint import (
    CheckpointManager, _parquet_paths, footer_columns, read_driver_table,
)

INSTANCE_COLS = [
    "url", "text_fp", "lon", "lat", "z", "scale", "yaw", "pitch", "roll",
    "model", "tags", "lang",
]
#: source columns stage 0 keeps only when the source has them: the
#: per-axis scale the encoder reads under ``use_scale_non_uniform``
OPTIONAL_INSTANCE_COLS = ["scale_non_uniform"]
#: checkpoint stages older exports wrote and no stage reads any more; an
#: export or an append over such a directory drops them
RETIRED_STAGES = ("stage1_encoded", "stage4_reduced", "stage4_payloads",
                  "stage5_subtrees")


def instance_cols(columns) -> list[str]:
    """Stage 0's columns for a source with ``columns``."""
    return INSTANCE_COLS + [c for c in OPTIONAL_INSTANCE_COLS if c in columns]


def stage0_instances(pages: DataFrame) -> DataFrame:
    """Project the tiling-relevant columns; html/text stay out of every
    downstream shuffle. text_fp pins the byte-identical-text invariant."""
    # idempotent: accept already-projected instances (text_fp precomputed)
    if "text_fp" in pages.columns:
        out = pages
    elif "text" in pages.columns:
        out = pages.withColumn("text_fp", F.xxhash64(F.col("text")))
    else:
        # ADVICE r4 #4: a source without a text column (e.g. a legacy
        # PostGIS instance table read with custom extra_cols) must not
        # fail stage 0 — pin text_fp to the xxhash64 of NULL (a constant),
        # making the byte-identical-text invariant vacuously stable.
        out = pages.withColumn(
            "text_fp", F.xxhash64(F.lit(None).cast("string"))
        )
    missing_defaults = {
        "z": F.lit(0.0), "scale": F.lit(1.0), "yaw": F.lit(0.0),
        "pitch": F.lit(0.0), "roll": F.lit(0.0),
        "model": F.lit(None).cast("string"), "tags": F.lit(None).cast("string"),
        "lang": F.lit(None).cast("string"),
    }
    for name, default in missing_defaults.items():
        if name not in out.columns:
            out = out.withColumn(name, default)
    return out.select(*instance_cols(pages.columns))


_ECEF_SCHEMA = T.StructType(
    [
        T.StructField("x_ecef", T.DoubleType()),
        T.StructField("y_ecef", T.DoubleType()),
        T.StructField("z_ecef", T.DoubleType()),
        T.StructField("s2_cell", T.LongType()),
    ]
)


def stage1_encode(instances: DataFrame, s2_level: int = 16) -> DataFrame:
    """F17 + S2 cell keys in ONE Arrow-batched pandas UDF (the reference
    reprojects inside each fetch query, src/InstancesRepository.cs:42,52).
    The export computes ECEF in-group instead; this standalone kernel is
    the S4 parity surface and the scaling bench's compute probe."""
    from ..packaging import ensure_shipped

    ensure_shipped(instances.sparkSession)

    @F.pandas_udf(_ECEF_SCHEMA)
    def _encode(lon: pd.Series, lat: pd.Series, z: pd.Series) -> pd.DataFrame:
        xyz = geo.wgs84_to_ecef(lon.to_numpy(), lat.to_numpy(), z.to_numpy())
        cell = s2_cell_id(lon.to_numpy(), lat.to_numpy(), s2_level)
        return pd.DataFrame(
            {
                "x_ecef": xyz[:, 0], "y_ecef": xyz[:, 1], "z_ecef": xyz[:, 2],
                "s2_cell": cell,
            }
        )

    enc_col = _encode(F.col("lon"), F.col("lat"), F.col("z"))
    return instances.withColumn("_e", enc_col).select("*", "_e.*").drop("_e")


def _is_bare_scan(df: DataFrame) -> bool:
    """True iff ``df``'s optimized plan is a single file relation, possibly
    under column-pruning Projects / SubqueryAliases only — the exact
    condition under which parquet-footer stats of ``inputFiles()`` describe
    the frame's rows. Any Filter, computed Project (aliases/expressions),
    join, or other node disqualifies (ADVICE r2: the stats path must not
    silently cover rows/values the plan excludes)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
    except Exception:
        return False

    def walk(node) -> bool:
        name = node.getClass().getSimpleName()
        if name in (
            "LogicalRelation",
            "DataSourceV2Relation",
            "DataSourceV2ScanRelation",
        ):
            return True
        if name in ("Project", "SubqueryAlias", "ResolvedHint"):
            if name == "Project":
                it = node.projectList().iterator()
                while it.hasNext():
                    if (
                        it.next().getClass().getSimpleName()
                        != "AttributeReference"
                    ):
                        return False
            children = node.children().iterator()
            kids = []
            while children.hasNext():
                kids.append(children.next())
            return len(kids) == 1 and walk(kids[0])
        return False

    try:
        return walk(plan)
    except Exception:
        return False


def tileset_levels(stage2_dir: str, subtree_levels: int) -> tuple[int, int]:
    """tileset.json's (availableLevels, subtreeLevels) from one number: the
    tile table's max level L, read off the stage-2 parquet footers' column
    stats (both of its writers record them) — no Spark job, on both plans
    of the export and the append.

    availableLevels is L + 1 (reference src/Program.cs:152). subtreeLevels
    is the level of the 2nd subtree file in sorted key order, else 2
    (src/Program.cs:151): every child set of a split tile holds a
    non-empty tile, so level L holds content and so does its ancestor at
    ``subtree_levels`` — that level when L >= ``subtree_levels``, else 2."""
    import pyarrow.parquet as pq

    top = 0
    for path in _parquet_paths(stage2_dir):
        md = pq.read_metadata(path)
        if not md.num_row_groups:
            continue
        col = footer_columns(md)["level"]
        for rg in range(md.num_row_groups):
            top = max(top, md.row_group(rg).column(col).statistics.max)
    return top + 1, (subtree_levels if top >= subtree_levels else 2)


def run_export(
    pages: DataFrame,
    opts: ExportOptions,
    output_dir: str,
    checkpoint_dir: str | None = None,
    bounds: Bounds | None = None,
    subtree_levels: int = 2,
    write_content: bool = True,
    model_glbs: dict | None = None,
    text_invariant: str = "agg",
) -> dict:
    """Full export. Returns a summary dict (tiles/subtree counts, metrics).

    ``model_glbs`` ({model name: glb bytes or path}) is prepared driver-
    side (F10 rotation under keep_projection, K5 external-texture copy
    into content/) and shipped to the encode stage by closure."""
    spark = pages.sparkSession
    ckpt = CheckpointManager(spark, checkpoint_dir or os.path.join(output_dir, "_checkpoints"))
    # parquet-fallback snapshot pinning: every stage records the input's
    # file-list+size+mtime fingerprint; resuming against MUTATED input
    # raises StaleCheckpointError instead of serving stale stages
    from .checkpoint import input_fingerprint as _ifp

    in_fp = _ifp(pages)

    def _stage0():
        inst = stage0_instances(pages)
        # S1: arbitrary source-EPSG ingest — reproject to WGS84 lon/lat at
        # the scan boundary (reference ST_Transform-in-scan semantics);
        # keep_projection passes source coordinates through untouched
        if opts.source_epsg != 4326 and not opts.keep_projection:
            from ..functions.crs import reproject_to_wgs84

            inst = reproject_to_wgs84(inst, opts.source_epsg)
        return inst

    # when the input is ALREADY a durable, fully-projected instance table
    # (parquet/Iceberg files with every INSTANCE_COL incl. text_fp and no
    # reprojection pending), a stage-0 checkpoint would be a byte copy of
    # the source — the source itself is the durable resume point, so skip
    # the extra full-width write+read
    _preprojected = (
        set(INSTANCE_COLS) <= set(pages.columns)
        and (opts.source_epsg == 4326 or opts.keep_projection)
        and bool(pages.inputFiles())
    )
    if _preprojected:
        inst = pages.select(*instance_cols(pages.columns))
    else:
        inst = ckpt.run_stage("stage0_instances", _stage0, input_fingerprint=in_fp)

    caller_pinned_bounds = bounds is not None
    data_extent = None  # raw pre-inflation extent (append-parity anchor)
    if bounds is None:
        # prefer the metadata-only extent (parquet/Iceberg footer stats —
        # zero data rows read, removes one full pass at 100 TB); only valid
        # when no predicate filters rows, coordinates are already 4326, AND
        # the frame is a bare scan of its input files: inputFiles() reflects
        # the SOURCE, so a pre-filtered/derived frame would otherwise get
        # bounds over rows/values its plan excludes (ADVICE r2)
        if not opts.query and opts.source_epsg == 4326 and _is_bare_scan(pages):
            files = pages.inputFiles()
            if files:
                data_extent = extent.raw_extent_from_parquet_stats(list(files))
        if data_extent is None:
            data_extent = extent.compute_raw_extent(inst, query=opts.query)
        bounds = extent.derive_root_bounds(
            *data_extent, heights=opts.boundingvolume_heights,
            clamp=not opts.keep_projection,
        )

    # stage 2: tile tree (tiny output; checkpointed as a table) + the
    # deep-cell counts it consumed (also tiny — O(cells)). Persisted counts
    # make the next incremental append's tree a counts MERGE instead of a
    # fresh corpus groupBy (plans/incremental delta path, VERDICT r4 #1);
    # the deep_level travels as a constant column so the append knows the
    # resolution to aggregate its batch at. On a fresh run the counts are
    # already materialized inside the build — writing them re-runs no
    # instance pass.
    _built: dict = {}
    # the tree's row estimate: the stage-0 marker's footer count (a
    # preprojected source has no stage-0 checkpoint; the build counts it)
    n_inst = None if _preprojected else ckpt.done("stage0_instances")["n_rows"]

    def _stage2():
        t = tiling.build_tile_tree(inst, bounds, opts, n_estimate=n_inst)
        _built["tree"] = t
        return t.tiles

    tree_df = ckpt.run_stage("stage2_tiles", _stage2,
                             input_fingerprint=in_fp)

    def _stage2_counts():
        t = _built.get("tree")
        if t is None:
            # resume of an export predating the counts checkpoint: rebuild
            # once (deterministic — same input, same estimate) to upgrade
            t = tiling.build_tile_tree(inst, bounds, opts,
                                       n_estimate=n_inst)
        return t.deep_counts_df.withColumn(
            "deep_level", F.lit(t.deep_level).cast("int")
        )

    ckpt.run_stage("stage2_cellcounts", _stage2_counts,
                   input_fingerprint=in_fp)
    # a tree built in this run carries its tile facts on the driver: the
    # assignment, the hot tiles and the subtrees read them instead of
    # running jobs over the stage-2 checkpoint. A resumed stage 2 is read
    # onto the driver with pyarrow within checkpoint._MAX_DRIVER_TILES.
    built = _built.get("tree")
    tree = tiling.TileTree(
        tiles=tree_df, deep_level=opts.max_level,
        bounds=bounds,
        max_content_level=(
            built.max_content_level if built is not None
            else tree_df.filter("content_available")
            .agg(F.max("level")).collect()[0][0] or 0
        ),
        tiles_pdf=(built.tiles_pdf if built is not None else
                   read_driver_table(ckpt._stage_path("stage2_tiles"))),
    )

    # stage 3: assignment, range-partitioned by tile key (Morton-ordered
    # spatial locality) so stage-4 groups are co-located
    def _assign():
        assigned = tiling.assign_to_content_tiles(inst, tree, opts)
        return assigned.repartitionByRange(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1),
            "level", "x", "y",
        )

    assigned = ckpt.run_stage("stage3_assigned", _assign, partition_cols=None,
                               input_fingerprint=in_fp)

    # stage 4: the encode's per-tile kernel reduces each over-full content
    # tile under clustering. Only hot tiles (dense urban cells, read off
    # the tile table) are first salted into bounded sub-groups, each
    # pre-reduced before the superlinear per-tile k-means. Nothing is
    # checkpointed: a rerun re-reduces from stage 3 (url order, seeded
    # k-means), so a stage4_reduced left by an older export is dropped.
    for stale in RETIRED_STAGES:
        ckpt.drop(stale)
    if opts.use_clustering:
        reduced = cluster_tiles_salted(
            assigned, hot_tile_keys(tree.tiles, tree.tiles_pdf, opts), opts)
    else:
        reduced = assigned

    content_dir = os.path.join(output_dir, "content")
    subtrees_dir = os.path.join(output_dir, "subtrees")
    os.makedirs(content_dir, exist_ok=True)
    os.makedirs(subtrees_dir, exist_ok=True)

    # persist the export frame for incremental appends (plans/incremental):
    # the root bounds pin tile-key semantics, the opts snapshot guards
    # against appending under different export semantics
    import dataclasses as _dc
    import json as _json

    with open(os.path.join(ckpt.root, "_export_meta.json"), "w") as f:
        _json.dump(
            {
                "bounds": [bounds.xmin, bounds.ymin, bounds.xmax,
                           bounds.ymax, bounds.zmin, bounds.zmax],
                # append-parity provenance: pinned bounds are input-
                # independent (a union rebuild reuses them verbatim);
                # computed bounds re-derive from data, so appends must stay
                # inside the recorded RAW extent or the union's root (and
                # region z-range) shifts (ADVICE r3)
                "bounds_pinned": caller_pinned_bounds,
                "data_extent": (list(data_extent)
                                if data_extent is not None else None),
                # preprojected inputs skip the stage-0 checkpoint (the
                # source IS the durable copy); record the file list so
                # incremental appends can reconstruct the base instances
                "preprojected_source": (
                    sorted(pages.inputFiles()) if _preprojected else None
                ),
                "subtree_levels": subtree_levels,
                "opts": {k: (list(v) if isinstance(v, tuple) else v)
                         for k, v in _dc.asdict(opts).items()},
            },
            f,
        )

    prepared_models = None
    if model_glbs:
        prepared_models, _textures = enc.prepare_models(
            model_glbs, opts, output_dir=content_dir
        )

    # stage 4 reduce + encode, straight into the content sink: the
    # payloads are written once, by the executors (K1 — SURVEY §2.1; gated
    # by test_export_never_materializes_on_driver). The content manifest
    # is the stage's durable output; a rerun re-reduces and re-encodes
    # from stage 3 and the sink's content-compare fast path leaves current
    # files untouched.
    payloads = enc.encode_tiles(reduced, opts, model_glbs=prepared_models)
    ext = opts.content_extension
    if write_content:
        content_files = payloads.select(
            F.format_string(f"%d_%d_%d.{ext}", "level", "x", "y").alias("relpath"),
            "payload",
        )
        n_content = sinks.write_binary_files(
            content_files, content_dir,
            manifest_path=os.path.join(ckpt.root, "_sink_manifests", "content"),
        )
    else:
        n_content = payloads.count()

    # T4 subtree files, decided once (sinks.write_subtrees): from the
    # driver-held tile table while it and its root set fit the budgets,
    # else assembled in executors (one tile-row shuffle) and piped into
    # the executor sink.
    n_subtree_files = sinks.write_subtrees(
        tree.tiles, tree.tiles_pdf, subtree_levels, subtrees_dir,
        os.path.join(ckpt.root, "_sink_manifests", "subtrees"),
        stage_dir=ckpt._stage_path("stage2_tiles"),
    )
    avail_levels, inferred_subtree_levels = tileset_levels(
        ckpt._stage_path("stage2_tiles"), subtree_levels
    )
    region = bounds.to_region(radians=not opts.keep_projection)
    ts_json = enc.tileset_json(
        region, opts.geometric_error, avail_levels, inferred_subtree_levels,
        use_i3dm=opts.use_i3dm, use_gpu_instancing=opts.use_gpu_instancing,
        tileset_version=opts.tileset_version, keep_projection=opts.keep_projection,
    )
    with open(os.path.join(output_dir, "tileset.json"), "w") as f:
        f.write(ts_json)

    # per-row invariant: byte-identical text per url across checkpoints.
    # 'agg' compares order-insensitive (count, bit_xor, sum) fingerprints of
    # the (url, text_fp) pair set — two scans, NO join shuffle, the 100 TB
    # default; 'full' does the exact per-row join; 'off' skips.
    n_broken = 0
    if text_invariant != "off":
        fp0 = inst
        if opts.query:
            fp0 = fp0.filter(F.expr(opts.query))  # stage 3 applies the same
        fp0 = fp0.select("url", "text_fp")
        fp1 = ckpt.read("stage3_assigned").select("url", "text_fp").distinct()

        def _full_join_count():
            return (
                fp0.join(fp1, "url")
                .filter(fp0["text_fp"] != fp1["text_fp"])
                .count()
            )

        if text_invariant == "full":
            n_broken = _full_join_count()
        else:
            def _fingerprint(df):
                # two independent order-insensitive XOR digests + count
                # (a sum would overflow under ANSI semantics)
                return df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(url, text_fp))").alias("x"),
                    F.expr("bit_xor(xxhash64(url, text_fp, 7919))").alias("s"),
                ).collect()[0]

            a, b = _fingerprint(fp0), _fingerprint(fp1)
            if (a["n"], a["x"], a["s"]) != (b["n"], b["x"], b["s"]):
                # escalate to the exact per-row diagnosis (bounds-clipped
                # inputs legitimately shrink stage 3; the join localizes)
                n_broken = _full_join_count()

    return {
        "n_instances": (inst.count() if _preprojected
                        else ckpt.done("stage0_instances")["n_rows"]),
        "n_tiles_recorded": ckpt.done("stage2_tiles")["n_rows"],
        "n_content_tiles": n_content,
        "n_subtree_files": n_subtree_files,
        "available_levels": avail_levels,
        "subtree_levels": inferred_subtree_levels,
        "text_invariant_violations": n_broken,
        "bounds": bounds.bbox,
        "stage_metrics": ckpt.metrics(),
    }
