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

Two plans run these steps, decided once per export by :func:`run_export`.
The Spark plan above runs a job or more per stage. At small sizes the
engine boundary, not the kernels, sets its cost (~20 jobs for a few
thousand rows), so a bare-scan source whose parquet footers count at most
``_MAX_TASK_EXPORT_ROWS`` rows, exported with content into a checkpoint
root holding no completed stage, takes the one-task plan instead: stage 0
as Spark computes it goes through ``coalesce(1).mapInArrow`` into one
Python worker, which runs the same per-step kernels (tree, assignment,
stage A, ``encode.encode_tile``) and writes stages 0, 2, 3, the cell
counts and the content files with the same writers, in the Spark plan's
schemas. The reference likewise writes a whole export from one process
(src/Program.cs). Both plans leave byte-identical content, subtrees and
tileset.json; a resume, or an input with a null or NaN coordinate, runs
the Spark plan.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import Bounds, ExportOptions
from ..functions import geodesy as geo
from ..functions.cells import s2_cell_id
from ..operators import encode as enc
from ..operators import extent, skew, tiling
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


#: largest input, in parquet-footer rows, that :func:`run_export` writes
#: in one Spark task (:func:`_export_one_task`), for a bare-scan source
#: into a fresh checkpoint root. Set at the lower clustered crossover that
#: scripts/task_export_budget.py measured on a 4-core host (local[4],
#: export wall one-task / Spark plan, median of 3 interleaved pairs):
#:
#:   rows   uniform i3dm     urban clustered glb
#:   2.5k   0.24 / 1.11 s    0.49 / 1.66 s
#:   5k     0.26 / 1.14 s    0.84 / 2.18 s
#:   7.5k   0.24 / 0.93 s    2.25 / 2.56 s
#:   10k    0.25 / 0.90 s    3.40 / 3.28 s
#:   30k    0.38 / 1.09 s    4.19 / 2.73 s
#:   100k   0.84 / 1.45 s    5.63 / 4.15 s
#:   300k   2.57 / 2.35 s    11.29 / 6.99 s
#:
#: Uniform input crosses over between 100k and 300k rows; clustered input
#: crossed between 7.5k and 10k, because stage A's k-means runs serially
#: in the one task. With the vectorized k-means the same script, on a
#: slower 4-core host, put urban past 30k rows (the loop k-means on the
#: same host in brackets):
#:
#:   rows   uniform i3dm     urban clustered glb
#:   2.5k   0.65 / 3.00 s    0.96 / 4.62 s   (1.40 / 4.95 s)
#:   5k     0.71 / 2.55 s    1.33 / 4.80 s   (2.04 / 5.88 s)
#:   7.5k   0.70 / 2.35 s    3.08 / 4.95 s   (6.20 / 6.69 s)
#:   10k    0.74 / 2.37 s    3.23 / 4.32 s   (10.54 / 10.07 s)
#:   30k    1.03 / 2.73 s    4.73 / 5.17 s   (11.38 / 7.99 s)
#:
#: The budget stays at 7,500 rows: a budget of 100k sends perfbench's
#: 15k-row mix base export to the one-task plan, which then raised the
#: mix's bbox-query median (cause not isolated). The largest Python
#: worker peaked at 168 MB at 7.5k rows (405 MB at 100k, 846 MB at 300k
#: urban). Read at call time.
_MAX_TASK_EXPORT_ROWS = 7_500

#: the checkpoint stages of an export; a root holding the done marker of
#: any of them resumes on the Spark plan
EXPORT_STAGES = ("stage0_instances", "stage2_tiles", "stage2_cellcounts",
                 "stage3_assigned")
TILE_KEY = ["level", "x", "y"]


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

    The plan is decided once. A bare-scan source (:func:`_is_bare_scan`)
    whose parquet footers count at most ``_MAX_TASK_EXPORT_ROWS`` rows,
    exported with content into a checkpoint root holding no completed
    stage, runs the one-task plan (:func:`_export_one_task`): one Spark
    job whose single task writes stages 0, 2, 3 and the content files.
    Every other export, and every resume, runs the Spark plan: a job or
    more per stage. Either way the driver then writes the export frame,
    the subtree files and ``tileset.json``.

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
    # one walk of a bare scan's parquet footers (zero data rows read): its
    # row count decides the plan, its column stats give the extent.
    # inputFiles() reflects the SOURCE, so a pre-filtered/derived frame
    # would otherwise get bounds over rows/values its plan excludes
    # (ADVICE r2)
    footer = None
    if _is_bare_scan(pages) and pages.inputFiles():
        footer = extent.parquet_footer_facts(list(pages.inputFiles()))
    caller_pinned_bounds = bounds is not None
    data_extent = None  # raw pre-inflation extent (append-parity anchor)
    # the metadata-only extent is valid only when no predicate filters
    # rows and coordinates are already 4326
    if (bounds is None and footer is not None and not opts.query
            and opts.source_epsg == 4326):
        data_extent = footer[1]

    content_dir = os.path.join(output_dir, "content")
    subtrees_dir = os.path.join(output_dir, "subtrees")
    os.makedirs(content_dir, exist_ok=True)
    os.makedirs(subtrees_dir, exist_ok=True)
    # stage 4 is not checkpointed: a rerun re-reduces from stage 3 (url
    # order, seeded k-means), so a stage4_reduced left by an older export
    # is dropped with the other retired stages
    for stale in RETIRED_STAGES:
        ckpt.drop(stale)
    prepared_models = None
    if model_glbs:
        prepared_models, _textures = enc.prepare_models(
            model_glbs, opts, output_dir=content_dir
        )

    task = None
    if (write_content and footer is not None
            and 0 < footer[0] <= _MAX_TASK_EXPORT_ROWS
            and not any(ckpt.is_complete(s) for s in EXPORT_STAGES)):
        task = _export_one_task(
            ckpt, _stage0(), opts, bounds, data_extent, not _preprojected,
            content_dir, prepared_models, text_invariant, in_fp)
    if task is not None:
        bounds, data_extent, n_content, n_broken = task
        tiles, tiles_pdf = None, None
        n_instances = footer[0]
    else:
        (bounds, data_extent, tiles, tiles_pdf, n_content, fp0,
         n_instances) = _export_spark(
            pages, ckpt, _stage0, _preprojected, opts, bounds, data_extent,
            content_dir, prepared_models, write_content, in_fp)

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

    # T4 subtree files, decided once (sinks.write_subtrees): from the
    # driver-held tile table (the one-task plan's read back from stage 2)
    # while it and its root set fit the budgets, else assembled in
    # executors (one tile-row shuffle; the one-task plan's Spark frame is
    # read from stage 2 there) and piped into the executor sink.
    n_subtree_files = sinks.write_subtrees(
        tiles, tiles_pdf, subtree_levels, subtrees_dir,
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

    if task is None:
        n_broken = _text_invariant_violations(
            fp0, ckpt.read("stage3_assigned"), text_invariant)

    return {
        "n_instances": n_instances,
        "n_tiles_recorded": ckpt.done("stage2_tiles")["n_rows"],
        "n_content_tiles": n_content,
        "n_subtree_files": n_subtree_files,
        "available_levels": avail_levels,
        "subtree_levels": inferred_subtree_levels,
        "text_invariant_violations": n_broken,
        "bounds": bounds.bbox,
        "stage_metrics": ckpt.metrics(),
        "one_task": task is not None,
    }


def _export_spark(pages, ckpt, stage0, preprojected, opts, bounds,
                  data_extent, content_dir, models, write_content, in_fp):
    """The Spark plan of :func:`run_export`, from stage 0 to the content
    sink: a job or more per stage, each checkpointed and resumable.
    Returns (bounds, raw data extent, tile table, its driver copy or
    None, content tiles, the stage-0 rows the text invariant checks,
    instance count)."""
    spark = pages.sparkSession
    if preprojected:
        inst = pages.select(*instance_cols(pages.columns))
    else:
        inst = ckpt.run_stage("stage0_instances", stage0,
                              input_fingerprint=in_fp)

    if bounds is None:
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
    n_inst = None if preprojected else ckpt.done("stage0_instances")["n_rows"]

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
    if built is not None:
        # stage 2 is written and read back from here on: a distributed
        # tree's persisted tile table has no further reader
        built.tiles.unpersist()
    tree = tiling.TileTree(
        tiles=tree_df, deep_level=opts.max_level, bounds=bounds,
        tiles_pdf=(built.tiles_pdf if built is not None else
                   read_driver_table(ckpt._stage_path("stage2_tiles"))),
    )

    # stage 3: assignment, range-partitioned by tile key (Morton-ordered
    # spatial locality) so stage-4 groups are co-located
    def _assign():
        assigned = tiling.assign_to_content_tiles(inst, tree, opts)
        return assigned.repartitionByRange(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1),
            *TILE_KEY,
        )

    assigned = ckpt.run_stage("stage3_assigned", _assign, partition_cols=None,
                               input_fingerprint=in_fp)

    # stage 4: the encode's per-tile kernel reduces each over-full content
    # tile under clustering. Only hot tiles (dense urban cells, read off
    # the tile table) are first salted into bounded sub-groups, each
    # pre-reduced before the superlinear per-tile k-means.
    if opts.use_clustering:
        reduced = skew.cluster_tiles_salted(
            assigned, skew.hot_tile_keys(tree.tiles, tree.tiles_pdf, opts),
            opts)
    else:
        reduced = assigned

    # stage 4 reduce + encode, straight into the content sink: the
    # payloads are written once, by the executors (K1 — SURVEY §2.1; gated
    # by test_export_never_materializes_on_driver). The content manifest
    # is the stage's durable output; a rerun re-reduces and re-encodes
    # from stage 3 and the sink's content-compare fast path leaves current
    # files untouched.
    payloads = enc.encode_tiles(reduced, opts, model_glbs=models)
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

    fp0 = inst.filter(F.expr(opts.query)) if opts.query else inst
    n_instances = (inst.count() if preprojected
                   else ckpt.done("stage0_instances")["n_rows"])
    return (bounds, data_extent, tree.tiles, tree.tiles_pdf, n_content, fp0,
            n_instances)


def _text_invariant_violations(fp0: DataFrame, stage3: DataFrame,
                               mode: str) -> int:
    """Per-row invariant: byte-identical text per url across checkpoints,
    between the stage-0 rows ``fp0`` (after ``opts.query``; stage 3
    applies the same) and ``stage3``. 'agg' compares order-insensitive
    (count, bit_xor, sum) fingerprints of the (url, text_fp) pair set —
    two scans, NO join shuffle, the 100 TB default — and escalates to the
    exact per-row join on a mismatch; 'full' runs the join; 'off' skips."""
    if mode == "off":
        return 0
    fp0 = fp0.select("url", "text_fp")
    fp1 = stage3.select("url", "text_fp").distinct()

    def _full_join_count():
        return (
            fp0.join(fp1, "url")
            .filter(fp0["text_fp"] != fp1["text_fp"])
            .count()
        )

    if mode == "full":
        return _full_join_count()

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
        return _full_join_count()
    return 0


def _export_one_task(ckpt, inst: DataFrame, opts: ExportOptions, bounds,
                     data_extent, write_stage0: bool, content_dir: str,
                     models, text_invariant: str, in_fp: str):
    """The one-task plan of :func:`run_export`: ``inst`` (stage 0's rows,
    computed by Spark), a Spark-computed ``opts.query`` flag and
    ``xxhash64(url)`` (the stage-A salt's hash) go through
    ``coalesce(1).mapInArrow`` into :func:`_task_export`, which writes
    stages 0, 2, the cell counts, 3 and the content files in that one
    task. The driver builds their Arrow schemas (``StructType.fromDDL``
    needs the JVM) and, after the job, writes the stages' lineage and
    done markers. Returns (bounds, raw data extent, content tiles, text
    invariant violations), or None when the kernel wrote nothing (a null
    or NaN coordinate, or no row passes ``opts.query``): the Spark plan
    then runs."""
    import json

    from ..packaging import ensure_shipped

    spark = inst.sparkSession
    ensure_shipped(spark)
    for stage in EXPORT_STAGES:  # unmarked leftovers of a crashed run
        ckpt.drop(stage)

    job = {
        "opts": opts, "root": ckpt.root, "bounds": bounds,
        "data_extent": data_extent, "write_stage0": write_stage0,
        "content_dir": content_dir, "models": models,
        "text_invariant": text_invariant,
        "n_part": max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1),
        "schemas": _stage_schemas(inst),
    }
    flagged = inst.select(
        "*",
        (F.coalesce(F.expr(opts.query), F.lit(False)) if opts.query
         else F.lit(True)).alias("_q"),
        F.xxhash64("url").alias("_h"),
    )

    def kernel(batches):
        # _task_export is pickled by reference and runs against the
        # worker's own modules: no function object of the driver (which
        # a profiler may have wrapped) rides this closure
        import json

        import pyarrow as pa

        res = _task_export(list(batches), job)
        yield pa.RecordBatch.from_pydict({"result": [json.dumps(res)]})

    res = json.loads(flagged.coalesce(1).mapInArrow(kernel, "result string")
                     .collect()[0]["result"])
    if "fallback" in res:
        return None
    for stage, wall_ms in res["walls"].items():
        ckpt.mark_done(stage, in_fp, wall_ms=wall_ms)
    return (Bounds(*res["bounds"]), res["data_extent"], res["n_content"],
            res["n_broken"])


def _stage_schemas(inst: DataFrame) -> dict:
    """The Arrow schemas of the Spark plan's writes, built on the driver
    (``StructType.fromDDL`` needs the JVM): stage 0 is ``inst``'s; stage
    3 reads stage 0 back (every column nullable) and joins it on the
    non-null tile key; the rest are the tables' DDL."""
    from pyspark.sql.pandas.types import to_arrow_schema

    def ddl(text):
        return to_arrow_schema(T.StructType.fromDDL(text))

    key = [T.StructField(c, t, False) for c, t in (
        ("level", T.IntegerType()), ("x", T.LongType()), ("y", T.LongType()))]
    return {
        "stage0_instances": to_arrow_schema(inst.schema),
        "stage2_tiles": ddl(tiling.TILES_DDL),
        "stage2_cellcounts": ddl(
            tiling.CELL_COUNTS_DDL + ", deep_level int not null"),
        "stage3_assigned": to_arrow_schema(T.StructType(key + [
            T.StructField(f.name, f.dataType, True) for f in inst.schema])),
        "content": ddl(sinks._MANIFEST_SCHEMA),
    }


def _task_export(batches, job: dict) -> dict:
    """The one-task plan's kernel, in one Python worker: the Arrow
    ``batches`` of stage 0 (plus ``_q``, the query flag, and ``_h``,
    ``xxhash64(url)``) through the export's own per-step kernels — the
    tree (``tiling.adaptive_tree`` over ``tiling.cell_counts`` and
    ``tiling.tree_from_counts_pandas``), the assignment
    (``tiling.assign_rows``), the hot tiles' stage A
    (``skew.reduce_hot_tile``) and ``encode.encode_tile`` per tile slice
    of the key-sorted stage 3 — writing stages 0, 2, the cell counts and
    3 with ``checkpoint.refresh_dir``/``replace_dir`` in the Spark plan's
    schemas (``job["schemas"]``) and each content file with
    ``sinks._write_file``, then the content manifest. The text invariant
    is the exact per-url comparison of the filtered stage-0 rows with
    stage 3 read back. Returns the per-stage walls, the bounds and raw
    extent, the content tile count and the violations; or
    ``{"fallback": reason}``, having written nothing, for an input the
    Spark plan must take."""
    import time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from . import checkpoint

    if not batches:
        return {"fallback": "no rows"}
    table = pa.Table.from_batches(batches)
    for c in ("lon", "lat", "z"):
        if pc.any(pc.is_null(table[c], nan_is_null=True)).as_py():
            return {"fallback": f"a null or NaN {c}"}
    rows = table.filter(table["_q"]).drop_columns(["_q"])
    if not rows.num_rows:
        return {"fallback": "no row passes the query"}
    opts, root = job["opts"], job["root"]
    walls: dict[str, int] = {}
    clock = time.monotonic()

    def write(stage, t, **kwargs):
        # the stage's wall: its compute since the previous write, and its
        # own write
        nonlocal clock
        path = os.path.join(root, stage)
        checkpoint.replace_dir(checkpoint.refresh_dir(
            path, t, schema=job["schemas"][stage], **kwargs), path)
        now = time.monotonic()
        walls[stage] = int((now - clock) * 1000)
        clock = now

    if job["write_stage0"]:
        write("stage0_instances", table.drop_columns(["_q", "_h"]))

    bounds, raw = job["bounds"], job["data_extent"]
    if bounds is None:
        if raw is None:
            mm = [pc.min_max(rows[c]) for c in ("lon", "lat", "z")]
            raw = [mm[0]["min"].as_py(), mm[1]["min"].as_py(),
                   mm[0]["max"].as_py(), mm[1]["max"].as_py(),
                   mm[2]["min"].as_py(), mm[2]["max"].as_py()]
        bounds = extent.derive_root_bounds(
            *raw, heights=opts.boundingvolume_heights,
            clamp=not opts.keep_projection)

    counts = {}

    def build_at(level):
        counts[level] = tiling.cell_counts(rows, bounds, level)
        return tiling.tree_from_counts_pandas(None, counts[level], bounds,
                                              opts, level)

    tree = tiling.adaptive_tree(build_at, table.num_rows, opts)
    write("stage2_tiles",
          pa.Table.from_pandas(tree.tiles_pdf, preserve_index=False))
    write("stage2_cellcounts", pa.Table.from_pandas(
        counts[tree.deep_level].assign(deep_level=tree.deep_level),
        preserve_index=False))

    assigned = tiling.assign_rows(rows, tree).sort_by(
        [(k, "ascending") for k in TILE_KEY])
    stage3_dir = os.path.join(root, "stage3_assigned")
    write("stage3_assigned", assigned, n_files=job["n_part"],
          sort_by=TILE_KEY)

    # reduce + encode each tile from its slice of the key-sorted rows;
    # a hot tile's rows take stage A first (the Spark plan's salted
    # sub-groups), the encode's own reduce is stage B
    cols = enc._encode_input_cols(opts, "url", set(assigned.column_names))
    hot = skew.hot_threshold(opts) if opts.use_clustering else None
    ext = opts.content_extension
    manifest, start = [], 0
    for end in checkpoint.group_ends(assigned, TILE_KEY).tolist():
        tile = assigned.slice(start, end - start)
        start = end
        pdf = tile.select(cols).to_pandas()
        if hot is not None and tile.num_rows > hot:
            pdf = skew.reduce_hot_tile(pdf, tile["_h"].to_numpy(), opts)
        lv, x, y = (tile[k][0].as_py() for k in TILE_KEY)
        manifest.append(sinks._write_file(
            job["content_dir"], f"{lv}_{x}_{y}.{ext}",
            enc.encode_tile(pdf, opts, model_glbs=job["models"])))
    checkpoint.write_driver_table(
        os.path.join(root, "_sink_manifests", "content"),
        pa.table({c: [m[i] for m in manifest] for i, c in
                  enumerate(("relpath", "n_bytes", "content_md5"))}),
        job["schemas"]["content"])

    n_broken = 0
    if job["text_invariant"] != "off":
        back = pa.concat_tables(
            pq.read_table(p, columns=["url", "text_fp"])
            for p in checkpoint._parquet_paths(stage3_dir))
        joined = rows.select(["url", "text_fp"]).join(
            back.group_by(["url", "text_fp"]).aggregate([]), "url",
            join_type="inner", right_suffix="_3")
        n_broken = pc.sum(pc.not_equal(joined["text_fp"],
                                       joined["text_fp_3"])).as_py() or 0
    return {
        "walls": walls, "n_content": len(manifest), "n_broken": n_broken,
        "bounds": [bounds.xmin, bounds.ymin, bounds.xmax, bounds.ymax,
                   bounds.zmin, bounds.zmax],
        "data_extent": None if raw is None else list(raw),
    }
