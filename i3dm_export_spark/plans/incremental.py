"""Incremental append: re-tile ONLY what a new batch of instances dirties.

The 100 TB operating mode is CDC-style appends (a new crawl drop lands
next to 10^12 existing pages). Recomputing the whole export for a 0.1%
append wastes almost all of its cost on tiles the batch never touches, so
an append works from the base export's checkpoints and the batch:

0. the batch plan is decided once (``_collect_batch``): a batch within
   ``_MAX_DRIVER_BATCH_ROWS`` rows, over a base whose tree is on the
   driver, is collected in one Arrow job, and steps 1–5 run on the driver
   over it with no further Spark job; a bigger batch stays in Spark,
   materialized once (``localCheckpoint``), and each step is a job;
1. guards: same ``ExportOptions``, batch inside the recorded bounds, urls
   new to the corpus (see Preconditions). The url guard walks the stage-3
   footers on the driver and reads only the row groups whose url min/max
   brackets a batch url; the Spark plan semi-joins;
2. stage 0 is refreshed additively into a copy beside it
   (``checkpoint.refresh_dir``, which every rewritten directory goes
   through): the base's parquet files are hard-linked and only the batch
   is written beside them, by the driver in the directory's schema or by
   Spark. A Spark step after the collect reads this batch file, so the
   batch's source is evaluated once;
3. tree: the batch's deep-cell counts (numpy over the collected batch, or
   a Spark groupBy) merge into the persisted base counts
   (``stage2_cellcounts``) and the tree is re-descended from the merged
   counts — O(cells), never a corpus groupBy (but see the recount below);
4. assignment: ``flipped`` = the content tiles of the old tree Δ those of
   the new one. Only the batch and the base rows under a flipped tile are
   reassigned; stage 3 is refreshed by hard-linking every part file whose
   footer (level, x, y) box cannot hold such a row and writing the rest
   as delta files, and the stage-2 tiles and cell counts are rewritten
   whole. On the driver plan one numpy row matcher
   (``tiling.match_keys``) finds the covered rows in the dirty files (read with
   pyarrow) and reassigns them with the batch, and the driver writes the
   delta sorted by tile key;
5. dirty tiles in closed form: an instance in deep cell ``c`` matches the
   content tiles over ``c``, so the tiles whose member set changed are the
   new content tiles over a batch cell, plus ``flipped``. No join over
   instances: the row matcher over the batch's counted cells on the
   driver, the assignment's content-tile join over them beyond it;
6. only dirty tiles re-encode and their files are written atomically.
   Within ``_MAX_DRIVER_MEMBER_ROWS`` dirty member rows (and no hot dirty
   tile under clustering) the driver fetches the members with pyarrow,
   reduces and encodes them in-process and writes the files itself, with
   no Spark job; beyond it the members go through ``encode_tiles`` into
   the executor sink. The files of tiles that stopped being content are
   removed on the driver and the content manifest is merged;
7. only subtrees that read a key of the tile diff (existence, content
   flag, emptiness changed) are reassembled, the subtree manifest is
   merged, and ``tileset.json`` is rewritten from the new tile table's
   max level;
8. the refreshed stage copies are swapped in (``checkpoint.replace_dir``,
   as the manifest merges are: the live directory is renamed aside to
   ``<dir>.old``, the copy renamed in, then the aside dropped; a crash
   between the renames leaves the live data whole under the aside, which
   the next swap or ``vacuum`` puts back), so the NEXT append starts from
   the new state.

This is the append's one path. Its one fork is where the tree's counts
come from: the merge above, or a RECOUNT (``tiling.build_tile_tree`` over
the refreshed stage 0, at its adaptive deep level) when the base has no
persisted counts (a pre-r5 export) or a merged cell overflows below
``max_level``, i.e. the persisted resolution is too coarse for the union
tree. The recount's counts replace the persisted ones. The tree decides
driver vs Spark once: within ``tiling._MAX_DRIVER_CELLS`` it holds its
tile table on the driver (``tiles_pdf``). Each bookkeeping step after the
tree is one pandas kernel — the tile diff (``_tile_diff``), the changed
subtree roots (``_changed_roots``), the manifest keep
(``_manifest_keep``), the subtree assembly core. The driver plan calls
it on the whole frame; where a step's input stays in Spark (the tiles,
the old manifest, the subtree pairs) the Spark plan runs the same kernel
per partition through ``packaging.map_kernel``. The tile diff is O(the
flipped tiles) and collected on both plans, so the removals and the
changed roots run on the driver either way. The
re-encode makes the one further decision (``_reencode_on_driver``), from
the same table: its member rows are the dirty tiles' ``n_instances``.
The batch plan of step 0 sits before both and needs the tree's driver
side (its cell counts within the budget); a recount that leaves the
driver, or dirty files whose rows overflow the batch budget, send the
stage-3 rows to Spark over the batch's stage-0 file. An
empty base, or more than ``_MAX_FLIPPED_FOR_DELTA`` flipped tiles, raise
:class:`IncrementalRebuildRequired`.

Parity contract (tested): content/ + subtrees/ + tileset.json after
``run_export(A)`` + ``incremental_append(B)`` are byte-identical to
``run_export(A ∪ B)`` from scratch — payload encode is a deterministic
function of the member set (url-ordered, seeded k-means), so equal member
sets yield equal bytes.

Preconditions (enforced):
* the previous export completed (``stage3_assigned`` checkpoint + the
  ``_export_meta.json`` frame written by ``run_export``);
* appended instances fall INSIDE the recorded root bounds — a point
  outside shifts every tile key's meaning, so the append degrades to a
  full re-export (raised as :class:`IncrementalRebuildRequired`, never
  silently mis-tiled); when the base export COMPUTED its bounds from the
  data (not caller-pinned), the batch must additionally stay inside the
  recorded raw lon/lat/z data extent, or a from-scratch union export
  would derive different root bounds / region z-range (ADVICE r3);
* the same ``ExportOptions`` drive the append (checked against the
  recorded snapshot);
* ``url`` is the unique stable instance key (the engine-wide total-order
  contract, FIXTURES.md §5), and a batch url already in the corpus raises.
  Counts therefore only grow, which is what makes the closed-form dirty
  set exact.

No reference analog: the reference re-runs its whole pipeline per
invocation (src/Program.cs). This is engine-only scale machinery.

Scale audit: the driver holds the batch's deep-cell counts, the tile
diff, the dirty tile keys and the removed-file relpaths — all
proportional to the batch and its dirty REGION — and, on the driver batch
plan, at most ``_MAX_DRIVER_BATCH_ROWS`` batch and dirty-file rows. The
one O(corpus) term left is the append-only url guard: a walk of every
stage-3 footer that reads only the row groups whose url range brackets a
batch url, while those hold at most ``_MAX_DRIVER_BATCH_ROWS`` rows, else
a column-pruned broadcast semi-join over the corpus's urls. A
batch whose dirty set approaches the whole tile table gains nothing over
``run_export``; the summary's ``n_dirty_tiles``/``n_content_tiles`` ratio
tells the operator which side they're on.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..config import Bounds, ExportOptions
from ..functions import cells
from ..operators import encode as enc
from ..operators import subtree, tiling
from ..operators.skew import (
    cluster_tiles_salted, hot_threshold, hot_tile_keys,
)
from ..packaging import map_kernel
from . import checkpoint, sinks
from .checkpoint import (
    CheckpointManager, part_files, read_parquet,
)
from .pipeline import RETIRED_STAGES, stage0_instances, tileset_levels

TILE_KEY = ["level", "x", "y"]


class IncrementalRebuildRequired(RuntimeError):
    """The append cannot be applied incrementally: out-of-bounds points,
    changed export options, url upserts, an incomplete or empty base, or a
    batch that flips more than ``_MAX_FLIPPED_FOR_DELTA`` content tiles.
    Run a full ``run_export`` over base ∪ batch instead."""


def _load_meta(ckpt_root: str) -> dict:
    path = os.path.join(ckpt_root, "_export_meta.json")
    if not os.path.exists(path):
        raise IncrementalRebuildRequired(
            f"no _export_meta.json under {ckpt_root}: the previous export "
            "predates incremental support or never completed — run a full "
            "run_export first"
        )
    with open(path) as f:
        return json.load(f)


def _check_opts(meta: dict, opts: ExportOptions) -> None:
    recorded = meta.get("opts", {})
    current = {
        k: (list(v) if isinstance(v, tuple) else v)
        for k, v in dataclasses.asdict(opts).items()
    }
    diffs = {
        k: (recorded.get(k), current[k])
        for k in current
        if recorded.get(k) != current[k]
    }
    if diffs:
        raise IncrementalRebuildRequired(
            f"export options changed since the base export: {diffs}; "
            "changed semantics require a full re-export"
        )


def _batch_extent(new_inst: DataFrame, batch) -> tuple | None:
    """The batch's (xmin, xmax, ymin, ymax, zmin, zmax) of lon, lat and z,
    or None when it is empty: numpy over the collected ``batch`` (which
    holds no null or NaN coordinate, see :func:`_collect_batch`), else
    one Spark agg over ``new_inst``."""
    if batch is not None:
        if not batch.num_rows:
            return None
        return tuple(float(f(batch.column(c).to_numpy()))
                     for c in ("lon", "lat", "z") for f in (np.min, np.max))
    row = new_inst.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat"),
        F.min("z"), F.max("z"),
    ).collect()[0]
    return None if row[0] is None else tuple(row)


def _check_bounds(extent: tuple | None, bounds: Bounds, meta: dict) -> None:
    """Two parity guards over the batch's ``extent`` (:func:`_batch_extent`).

    1. lon/lat inside the recorded root bounds — a point outside shifts
       every tile key's meaning.
    2. When the base export COMPUTED its bounds from data (not caller-
       pinned), the batch must also stay inside the recorded RAW data
       extent in lon/lat AND z: a from-scratch ``run_export(A ∪ B)``
       re-derives the root (and the tileset region's zmin/zmax) from the
       union extent, so any batch value outside the base extent breaks the
       byte-parity contract (ADVICE r3: z was previously unchecked).
    """
    if extent is None:
        return
    row = dict(zip(("xmin", "xmax", "ymin", "ymax", "zmin", "zmax"), extent))
    if (
        row["xmin"] < bounds.xmin or row["xmax"] > bounds.xmax
        or row["ymin"] < bounds.ymin or row["ymax"] > bounds.ymax
    ):
        raise IncrementalRebuildRequired(
            f"appended instances ([{row['xmin']}, {row['ymin']}] .. "
            f"[{row['xmax']}, {row['ymax']}]) fall outside the recorded "
            f"root bounds {bounds.bbox}; tile keys would change meaning — "
            "run a full re-export"
        )
    if not meta.get("bounds_pinned", True):
        ext = meta.get("data_extent")
        if ext is None:
            raise IncrementalRebuildRequired(
                "base export computed its bounds from data but recorded no "
                "raw data extent (pre-r4 meta); cannot prove the append "
                "leaves a recomputed union extent unchanged — run a full "
                "re-export"
            )
        xmin, ymin, xmax, ymax, zmin, zmax = ext
        if (
            row["xmin"] < xmin or row["xmax"] > xmax
            or row["ymin"] < ymin or row["ymax"] > ymax
            or row["zmin"] < zmin or row["zmax"] > zmax
        ):
            raise IncrementalRebuildRequired(
                f"appended instances extend the base export's raw data "
                f"extent {ext} (batch z-range [{row['zmin']}, "
                f"{row['zmax']}], lon/lat [{row['xmin']}, {row['ymin']}] "
                f".. [{row['xmax']}, {row['ymax']}]); a from-scratch union "
                "export would derive different root bounds / region "
                "z-range — run a full re-export"
            )


def _collect_batch(new_inst: DataFrame, ckpt: CheckpointManager):
    """The append's batch plan, decided once: the batch as one Arrow table
    on the driver, or None for the Spark plan.

    The driver plan needs a base with a stage-0 checkpoint (the batch file
    joins it) and deep-cell counts within ``tiling._MAX_DRIVER_CELLS``
    (the tree is then on the driver), at most ``_MAX_DRIVER_BATCH_ROWS``
    rows, found by collecting one row more (one job), and double lon, lat
    and z with no null or NaN: Spark's ``min``/``max`` skip a null and
    rank a NaN above every number, which numpy does not, so the bounds
    guard would diverge. A zero budget launches no collect."""
    if (_MAX_DRIVER_BATCH_ROWS <= 0
            or not ckpt.is_complete("stage0_instances")
            or not ckpt.is_complete("stage2_cellcounts")
            or _parquet_rows(ckpt._stage_path("stage2_cellcounts"))
            > tiling._MAX_DRIVER_CELLS):
        return None
    import pyarrow as pa

    batch = new_inst.limit(_MAX_DRIVER_BATCH_ROWS + 1).toArrow()
    if batch.num_rows > _MAX_DRIVER_BATCH_ROWS:
        return None
    for c in ("lon", "lat", "z"):
        col = batch.column(c)
        if col.type != pa.float64() or np.isnan(col.to_numpy()).any():
            return None  # to_numpy makes a null NaN
    return batch


def _url_overlap(spark, ckpt: CheckpointManager, new_inst: DataFrame,
                 batch) -> int:
    """Stage-3 rows whose url is a batch url: on the driver over the
    stage-3 footers for a collected ``batch`` (:func:`_url_overlap_driver`)
    within its row budget, else a broadcast semi-join of the batch's urls
    against stage 3's url column."""
    stage3_dir = ckpt._stage_path("stage3_assigned")
    if batch is not None:
        n = _url_overlap_driver(stage3_dir, batch.column("url"))
        if n is not None:
            return n
        # the collected urls, not a second evaluation of the source
        new_inst = spark.createDataFrame(batch.select(["url"]))
    return read_parquet(spark, stage3_dir).select("url").join(
        F.broadcast(new_inst.select("url").distinct()), "url", "left_semi"
    ).count()


def _url_overlap_driver(stage3_dir: str, urls) -> int | None:
    """:func:`_url_overlap` with no Spark job, or None when the candidate
    row groups hold more than ``_MAX_DRIVER_BATCH_ROWS`` rows.

    One walk of the stage-3 footers skips every row group whose url
    min/max brackets no batch url; the candidates — a row group without
    url statistics included — are read, ``url`` only, one row group at a
    time, and their matches counted with ``is_in``. A null url matches
    nothing, as in the join."""
    import bisect

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = sorted(pc.unique(urls.drop_null()).to_pylist())
    if not keys:
        return 0

    def brackets(st) -> bool:
        if st is None or not st.has_min_max or not isinstance(st.min, str):
            return True
        i = bisect.bisect_left(keys, st.min)
        return i < len(keys) and keys[i] <= st.max

    candidates, n_rows = [], 0
    for fp in checkpoint._parquet_paths(stage3_dir):
        meta = pq.read_metadata(fp)
        if not meta.num_row_groups:
            continue
        iurl = checkpoint.footer_columns(meta)["url"]
        groups = [i for i in range(meta.num_row_groups)
                  if meta.row_group(i).num_rows
                  and brackets(meta.row_group(i).column(iurl).statistics)]
        if groups:
            candidates.append((fp, meta, groups))
            n_rows += sum(meta.row_group(i).num_rows for i in groups)
    if n_rows > _MAX_DRIVER_BATCH_ROWS:
        return None
    value_set = pa.array(keys, pa.string())
    n = 0
    for fp, meta, groups in candidates:
        with pq.ParquetFile(fp, metadata=meta) as f:
            for i in groups:
                col = f.read_row_group(i, columns=["url"],
                                       use_threads=False).column(0)
                n += int(np.count_nonzero(pc.is_in(
                    col, value_set=value_set, skip_nulls=True)))
    return n


def incremental_append(
    new_pages: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
    model_glbs: dict | None = None,
    opts: ExportOptions | None = None,
) -> dict:
    """Apply an append batch to an existing export; returns a summary with
    the dirty-tile economics (``n_dirty_tiles`` vs ``n_content_tiles``)."""
    import time as _time

    walls: dict[str, float] = {}
    _t0 = _time.perf_counter()

    def _mark(phase: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        walls[phase] = round(walls.get(phase, 0.0) + (now - _t0), 3)
        _t0 = now

    spark = new_pages.sparkSession
    ckpt_root = checkpoint_dir or os.path.join(output_dir, "_checkpoints")
    ckpt = CheckpointManager(spark, ckpt_root)
    if not ckpt.is_complete("stage3_assigned"):
        raise IncrementalRebuildRequired(
            f"base export under {ckpt_root} is incomplete "
            "(stage3 checkpoint missing)"
        )
    meta = _load_meta(ckpt_root)
    # a preprojected base export skips the stage-0 checkpoint (the source
    # parquet IS the durable copy); reconstruct the base instances from
    # the recorded file list instead
    if not ckpt.is_complete("stage0_instances") and not meta.get(
        "preprojected_source"
    ):
        raise IncrementalRebuildRequired(
            f"base export under {ckpt_root} is incomplete (stage0 "
            "checkpoint missing and no preprojected source recorded)"
        )
    manifest_probe = os.path.join(ckpt_root, "_sink_manifests", "content")
    if not os.path.isdir(manifest_probe):
        raise IncrementalRebuildRequired(
            f"no content sink manifest under {manifest_probe}: the base "
            "export ran with write_content=False — nothing to append to"
        )
    bounds = Bounds(*meta["bounds"])
    subtree_levels = meta.get("subtree_levels", 2)
    if opts is None:
        # a recorded key that is no longer an option (an export written
        # before it was removed) carries no meaning; _check_opts skips
        # such keys too
        known = {f.name for f in dataclasses.fields(ExportOptions)}
        rec = {k: v for k, v in meta["opts"].items() if k in known}
        rec["boundingvolume_heights"] = tuple(rec["boundingvolume_heights"])
        opts = ExportOptions(**rec)
    else:
        _check_opts(meta, opts)

    new_inst = stage0_instances(new_pages)
    if opts.query:
        new_inst = new_inst.filter(F.expr(opts.query))
    # the batch plan, decided once (_collect_batch): a batch within
    # _MAX_DRIVER_BATCH_ROWS comes to the driver in one Arrow collect, and
    # the guards, deep-cell counts, stage-0 write, reassignment and
    # stage-3 delta write below run over it with no further job. Beyond it
    # the batch is materialized ONCE (executor-local blocks, O(batch)):
    # each of those steps runs a job over it, and re-evaluating an
    # arbitrary source lineage (a JDBC read, a synthesis plan) per
    # consumer multiplies the append's fixed cost by ~6
    batch = _collect_batch(new_inst, ckpt)
    if batch is None:
        new_inst = new_inst.localCheckpoint()
    _mark("guards.meta")
    _check_bounds(_batch_extent(new_inst, batch), bounds, meta)
    _mark("guards.bounds")

    if ckpt.is_complete("stage0_instances"):
        old_inst = ckpt.read("stage0_instances")
    else:
        from .pipeline import instance_cols

        src = [
            p.removeprefix("file:") for p in meta["preprojected_source"]
        ]
        old_inst = spark.read.parquet(*src)
        old_inst = old_inst.select(*instance_cols(old_inst.columns))
        # ADVICE r4 #3: run_export guards resumes with StaleCheckpointError,
        # but this path reads the preprojected source files directly — if
        # they were mutated or replaced since the export, the dirty diff
        # would run against data that no longer matches stage3_assigned and
        # silently write wrong tiles. Re-derive the input fingerprint and
        # compare with the one pinned in the stage-3 done marker. (Empty
        # fingerprints — in-memory inputs — disable pinning, same contract
        # as checkpoint.run_stage.)
        from .checkpoint import input_fingerprint

        recorded_fp = ckpt.done("stage3_assigned").get(
            "input_fingerprint") or ""
        current_fp = input_fingerprint(old_inst)
        if recorded_fp and current_fp and recorded_fp != current_fp:
            raise IncrementalRebuildRequired(
                "preprojected source files changed since the base export "
                f"(fingerprint {recorded_fp[:12]}.. recorded at export, "
                f"{current_fp[:12]}.. now): the base assignment no longer "
                "matches the source — run a full re-export"
            )

    # input pinning across the append (VERDICT r3 item 7): the refreshed
    # checkpoints describe base ∪ batch, which matches NO single input —
    # chain the base's recorded fingerprint with the batch's so a later
    # run_export resume against any (possibly mutated) input fails loudly
    # instead of silently serving union-state stages
    append_fp = _chained_fingerprint(ckpt, new_pages, old_inst)
    _mark("guards.fingerprint")

    # appends are append-only on url, the stable instance key: a batch url
    # that ALREADY exists is an upsert, which the counts merge cannot
    # express (counts only grow, so the closed-form dirty set would miss
    # the tile the old copy leaves). Degrade loudly.
    n_overlap = _url_overlap(spark, ckpt, new_inst, batch)
    if n_overlap:
        raise IncrementalRebuildRequired(
            f"{n_overlap} appended url(s) already exist in the base export; "
            "incremental appends are append-only on the url key — dedupe "
            "the batch or run a full re-export for upserts"
        )

    _mark("guards.overlap")
    walls["guards"] = round(
        sum(v for k, v in walls.items() if k.startswith("guards.")), 3
    )

    # materialize the refreshed stage-0 FIRST: every later consumer reads
    # durable parquet instead of re-evaluating lazy union lineage.
    # stage-0 is purely ADDITIVE under the append-only url contract: when
    # the base checkpoint exists as parquet, hard-link its data files into
    # the tmp and write only the batch beside them — O(batch) bytes
    # instead of an O(corpus) rewrite (the parquet-fallback analogue of an
    # Iceberg fast-append snapshot: new data files + manifest re-list).
    # A preprojected base writes the union.
    stage0_dir = ckpt._stage_path("stage0_instances")
    if ckpt.is_complete("stage0_instances"):
        tmp0 = checkpoint.refresh_dir(
            stage0_dir,
            new_inst.select(*old_inst.columns) if batch is None else batch,
            keep=[f.path for f in part_files(stage0_dir)], prefix="batch-")
    else:
        tmp0 = checkpoint.refresh_dir(stage0_dir, old_inst.unionByName(
            new_inst.select(*old_inst.columns)))
    _mark("stage0_materialize")

    # tree + assignment refresh and the dirty set (_delta_refresh): merge
    # or recount the deep-cell counts, re-descend, reassign ONLY the batch
    # plus rows covered by flipped content tiles, refresh stage-3 by
    # hard-linking every file the dirty region provably does not touch
    # (parquet footer box stats), and derive the dirty tiles from the
    # batch's counts. The tree's driver tile table (or None) picks the
    # side of every tile-granularity step below.
    n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    delta = _delta_refresh(spark, ckpt, new_inst, tmp0,
                           list(old_inst.columns), bounds, opts, n_part,
                           batch)
    tiles_pdf = delta["tree"].tiles_pdf
    driver_plan = tiles_pdf is not None
    tiles = delta["tiles"]
    for k, v in delta["walls"].items():
        walls[f"delta.{k}"] = v
    _mark("tree_and_assignment")
    n_dirty = len(delta["dirty_keys"])  # already collected — no job
    _mark("dirty_diff")

    content_dir = os.path.join(output_dir, "content")
    subtrees_dir = os.path.join(output_dir, "subtrees")
    ext = opts.content_extension
    manifest_dir = os.path.join(ckpt_root, "_sink_manifests", "content")

    # 6: re-encode only the dirty tiles' members
    dirty_manifest_dir = os.path.join(
        ckpt_root, "_sink_manifests", "_content_incr"
    )
    on_driver, n_member_rows = _reencode_on_driver(
        tiles_pdf, delta["dirty_keys"], opts
    )
    n_written = _reencode_dirty(
        spark, delta["tmp3"], delta["dirty_keys"], tiles, tiles_pdf, opts,
        model_glbs, content_dir, dirty_manifest_dir,
        n_member_rows if on_driver else None, _mark,
    )

    # removals, on the driver on both plans: the files of the tiles that
    # stopped being content — flipped tiles, so _MAX_FLIPPED_FOR_DELTA
    # bounds them — then the manifest merge drops their rows
    diff = delta["diff"]
    gone = diff.loc[diff["was_content"] & ~diff["is_content"]]
    removed = [f"{l}_{x}_{y}.{ext}"
               for l, x, y in zip(gone["level"], gone["x"], gone["y"])]
    if removed:
        from concurrent.futures import ThreadPoolExecutor

        def _rm(rel: str) -> None:
            try:
                os.remove(os.path.join(content_dir, rel))
            except FileNotFoundError:
                pass

        with ThreadPoolExecutor(max_workers=32) as pool:
            list(pool.map(_rm, removed))
    _mark("reencode.removals")
    n_content = _merge_manifest(spark, manifest_dir, dirty_manifest_dir,
                                removed, driver_plan)
    _mark("reencode.manifest_merge")
    walls["reencode_dirty"] = round(
        sum(v for k, v in walls.items() if k.startswith("reencode.")), 3
    )

    # 7: subtrees + tileset.json. Reassemble ONLY the subtrees that read a
    # key of the tile diff — every other subtree's bytes on disk are
    # already the union-tree bytes, so assembly cost tracks the append's
    # dirty REGION, not the corpus tree. Appends never remove content, so
    # no subtree file is ever deleted; the manifest is merged like content.
    roots = list(_changed_roots(diff, subtree_levels).itertuples(
        index=False, name=None))
    _mark("subtrees.changed_roots")
    sub_manifest_dir = os.path.join(ckpt_root, "_sink_manifests", "subtrees")
    sub_incr_dir = os.path.join(ckpt_root, "_sink_manifests", "_subtrees_incr")
    sinks.write_subtrees(tiles, tiles_pdf, subtree_levels, subtrees_dir,
                         sub_incr_dir, roots=roots)
    _mark("subtrees.assemble_write")
    n_subtree_files = _merge_manifest(spark, sub_manifest_dir, sub_incr_dir,
                                      (), driver_plan)
    _mark("subtrees.manifest_merge")
    walls["subtrees"] = round(
        sum(v for k, v in walls.items() if k.startswith("subtrees.")), 3
    )

    avail_levels, inferred_subtree_levels = tileset_levels(
        delta["tmp2"], subtree_levels
    )
    region = bounds.to_region(radians=not opts.keep_projection)
    ts_json = enc.tileset_json(
        region, opts.geometric_error, avail_levels, inferred_subtree_levels,
        use_i3dm=opts.use_i3dm, use_gpu_instancing=opts.use_gpu_instancing,
        tileset_version=opts.tileset_version,
        keep_projection=opts.keep_projection,
    )
    with open(os.path.join(output_dir, "tileset.json"), "w") as f:
        f.write(ts_json)

    # 8: swap the already-materialized stage tmps into place
    # (``checkpoint.replace_dir``: the live directory is renamed aside,
    # never removed before its replacement is in place) and mark them
    # done with the append CHAIN fingerprint, so post-append resumes keep
    # input pinning (VERDICT r3 item 7). An export writes no stage past
    # stage 3 (the LOD reduce runs inside the encode's group), but older
    # exports on disk may still hold the retired stages, which describe
    # the old member sets: they are dropped.
    tmps = {
        "stage0_instances": tmp0,
        "stage3_assigned": delta["tmp3"],
        "stage2_tiles": delta["tmp2"],
        "stage2_cellcounts": delta["tmp_counts"],
    }
    for stage, tmp in tmps.items():
        checkpoint.replace_dir(tmp, ckpt._stage_path(stage))
        ckpt.mark_done(stage, append_fp, incremental=True)
    for stale in RETIRED_STAGES:
        ckpt.drop(stale)

    _mark("tileset_and_swap")
    return {
        "phase_walls": walls,
        # union_inst's lineage read the PRE-swap checkpoint files; count
        # from the refreshed checkpoint instead
        "n_instances": ckpt.done("stage0_instances")["n_rows"],
        "n_new_instances": (new_inst.count() if batch is None
                            else batch.num_rows),
        "batch_on_driver": batch is not None,
        "n_dirty_tiles": n_dirty,
        "n_dirty_member_rows": n_member_rows,
        "reencode_on_driver": on_driver,
        "n_rewritten_files": n_written,
        "n_removed_files": len(removed),
        "n_content_tiles": n_content,
        "n_subtree_files": n_subtree_files,
        "n_dirty_subtrees": len(roots),
        "available_levels": avail_levels,
        "counts_recounted": delta["recounted"],
        "n_stage3_linked_files": delta["n_linked_files"],
        "n_stage3_rewritten_files": delta["n_rewritten_source_files"],
    }


def _keys_by_level(dirty_keys) -> dict[int, list[tuple[int, int]]]:
    by_level: dict[int, list[tuple[int, int]]] = {}
    for (lv, x, y) in dirty_keys:
        by_level.setdefault(int(lv), []).append((int(x), int(y)))
    return by_level


def _key_boxes(by_level) -> dict[int, tuple[int, int, int, int]]:
    """Per level, the (x0, x1, y0, y1) box around its dirty keys — the
    prefilter both plans push into the stage-3 scan, so footer stats skip
    the hard-linked clean files."""
    return {
        lv: (min(x for x, _ in ks), max(x for x, _ in ks),
             min(y for _, y in ks), max(y for _, y in ks))
        for lv, ks in by_level.items()
    }


def _dirty_mask(level, x, y, by_level) -> np.ndarray:
    """Rows whose (level, x, y) is a dirty key: one packed-key ``np.isin``
    per dirty level."""
    level = np.asarray(level, np.int64)
    packed = (np.asarray(x, np.int64) << 32) | np.asarray(y, np.int64)
    mask = np.zeros(len(level), bool)
    for lv, ks in by_level.items():
        sel = level == lv
        mask[sel] = np.isin(packed[sel], [(kx << 32) | ky for kx, ky in ks])
    return mask


def _reencode_on_driver(
    tiles_pdf, dirty_keys, opts: ExportOptions
) -> tuple[bool, int | None]:
    """The re-encode's plan decision, from what the driver already holds:
    (driver plan?, dirty member rows — None without a driver tile table).

    A content tile's members are exactly the instances under it, with
    clustering on or off, so the dirty member rows are ``n_instances``
    summed over the dirty keys that are content tiles (a flipped key may
    have stopped being one: it has no members left). The driver plan
    needs the tile table on the driver, at most
    ``_MAX_DRIVER_MEMBER_ROWS`` member rows and, under clustering, no hot
    dirty tile: a hot tile's stage-A pre-reduce salts by Spark's
    ``xxhash64(url)`` (``skew.cluster_tiles_salted``), which the driver
    does not re-derive."""
    if tiles_pdf is None:
        return False, None
    n = tiles_pdf["n_instances"].to_numpy(np.int64)[_dirty_mask(
        tiles_pdf["level"], tiles_pdf["x"], tiles_pdf["y"],
        _keys_by_level(dirty_keys),
    ) & tiles_pdf["content_available"].to_numpy(bool)]
    n_rows = int(n.sum())
    hot = opts.use_clustering and bool((n > hot_threshold(opts)).any())
    return n_rows <= _MAX_DRIVER_MEMBER_ROWS and not hot, n_rows


def _reencode_dirty(
    spark, stage3_dir: str, dirty_keys, tiles, tiles_pdf,
    opts: ExportOptions, model_glbs, content_dir: str, manifest_path: str,
    driver_rows: int | None, mark,
) -> int:
    """Re-encode the dirty tiles from the refreshed stage 3 and write their
    files under ``content_dir`` with their manifest at ``manifest_path``;
    returns the number of files written.

    Driver plan (``driver_rows`` = the dirty member rows the tile table
    counts): pyarrow reads only the encoder's columns of the stage-3 files
    whose footer stats meet the per-level key boxes, keeps the exact dirty
    keys, checks the row count against ``driver_rows``, then runs the
    export's per-tile kernel (``encode.encode_tile``: the LOD reduce under
    clustering, then the encode) tile by tile in-process and writes
    through ``sinks.write_binary_files_driver`` — zero Spark jobs. Marks
    ``reencode.fetch``, ``reencode.encode`` and ``reencode.write``.

    Spark plan (``driver_rows`` None): the box filter plus a broadcast
    semi-join on the dirty keys, under clustering the salted stage A of
    the hot tiles in the new tile table (``tiles``/``tiles_pdf``), then
    ``encode_tiles`` (the same kernel per tile) and the executor sink —
    the encode runs inside the sink's job, so it marks ``reencode.fetch``
    and ``reencode.write``.

    Either way the member fetch reads O(dirty region), the analogue of
    the reference's GIST-indexed per-tile queries
    (src/InstancesRepository.cs:32-38)."""
    by_level = _keys_by_level(dirty_keys)
    boxes = _key_boxes(by_level)
    prepared_models = None
    if model_glbs:
        prepared_models, _ = enc.prepare_models(
            model_glbs, opts, output_dir=content_dir
        )
    ext = opts.content_extension
    if driver_rows is not None:
        members = _fetch_members(stage3_dir, by_level, boxes, opts)
        if len(members) != driver_rows:
            raise IncrementalRebuildRequired(
                f"the refreshed stage 3 holds {len(members)} rows for the "
                f"{len(dirty_keys)} dirty tiles, the tile table counts "
                f"{driver_rows}: stage 3 does not match the tree — run a "
                "full re-export into a fresh directory"
            )
        mark("reencode.fetch")
        files = [
            (f"{lv}_{x}_{y}.{ext}",
             enc.encode_tile(pdf, opts, model_glbs=prepared_models))
            for (lv, x, y), pdf in members.groupby(TILE_KEY, sort=True)
        ]
        del members
        mark("reencode.encode")
        n_written = sinks.write_binary_files_driver(
            files, content_dir, manifest_path
        )
        mark("reencode.write")
        return n_written

    members = read_parquet(spark, stage3_dir)
    if boxes:
        pred = F.lit(False)
        for lv, (x0, x1, y0, y1) in boxes.items():
            pred = pred | (
                (F.col("level") == lv)
                & F.col("x").between(x0, x1) & F.col("y").between(y0, y1)
            )
        members = members.filter(pred)
    dirty = spark.createDataFrame(
        dirty_keys or [],  # createDataFrame needs the schema when empty
        schema="level int, x bigint, y bigint",
    )
    members = members.join(F.broadcast(dirty), TILE_KEY, "left_semi")
    if opts.use_clustering:
        members = cluster_tiles_salted(
            members, hot_tile_keys(tiles, tiles_pdf, opts), opts)
    mark("reencode.fetch")
    payloads = enc.encode_tiles(members, opts, model_glbs=prepared_models)
    n_written = sinks.write_binary_files(
        payloads.select(
            F.format_string(f"%d_%d_%d.{ext}", "level", "x", "y")
            .alias("relpath"),
            "payload",
        ),
        content_dir, manifest_path=manifest_path,
    )
    mark("reencode.write")
    return n_written


def _fetch_members(stage3_dir: str, by_level, boxes, opts: ExportOptions):
    """The dirty tiles' stage-3 rows as one pandas frame, read with
    pyarrow: the encoder's columns only, from the files and row groups
    whose footer stats meet ``boxes``, then exactly the dirty keys."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    dset = ds.dataset(stage3_dir, format="parquet")
    cols = enc._encode_input_cols(opts, "url", set(dset.schema.names))
    if not boxes:
        return dset.schema.empty_table().select(cols).to_pandas()
    box = None
    for lv, (x0, x1, y0, y1) in boxes.items():
        term = ((ds.field("level") == lv)
                & (ds.field("x") >= x0) & (ds.field("x") <= x1)
                & (ds.field("y") >= y0) & (ds.field("y") <= y1))
        box = term if box is None else box | term
    # one scan thread: the dirty region is a few row groups, and the
    # threaded scan's buffers raised the driver's peak RSS (~0.9 MB on the
    # append mix, 9/10 interleaved pairs) with no time gained
    table = dset.to_table(columns=cols, filter=box, use_threads=False)
    keep = _dirty_mask(
        table.column("level").to_numpy(), table.column("x").to_numpy(),
        table.column("y").to_numpy(), by_level,
    )
    return table.filter(pa.array(keep)).to_pandas()


def _chained_fingerprint(
    ckpt: CheckpointManager, new_pages: DataFrame, old_inst: DataFrame
) -> str:
    """sha256 over (base stage0 fingerprint, batch input fingerprint).

    Non-empty whenever either side is pinned; by construction it never
    equals a plain ``input_fingerprint(some_input)``, so a post-append
    ``run_export`` resume over ANY file-backed input raises
    :class:`~.checkpoint.StaleCheckpointError` — correct, because the
    refreshed checkpoints hold union state that no single input produces.
    Chained appends are unaffected (they read checkpoints directly).
    Preprojected bases have no stage-0 marker — fall back to the base
    source frame's own file fingerprint."""
    import hashlib

    from .checkpoint import input_fingerprint

    base_fp = (ckpt.is_complete("stage0_instances") and ckpt.done(
        "stage0_instances").get("input_fingerprint")) or input_fingerprint(
        old_inst)
    batch_fp = input_fingerprint(new_pages)
    if not base_fp and not batch_fp:
        return ""
    return hashlib.sha256(
        f"append|{base_fp}|{batch_fp}".encode()
    ).hexdigest()


def _stage3_file_stats(stage3_dir: str):
    """Per-file row count and (level, x, y) min/max from parquet footers —
    metadata only. Returns [(path, n_rows, (l0, l1, x0, x1, y0, y1) |
    None)], skipping empty files; None when any stat is unavailable
    (treated as potentially-dirty by the caller)."""
    import pyarrow.parquet as pq

    out = []
    for path in checkpoint._parquet_paths(stage3_dir):
        md = pq.read_metadata(path)
        if md.num_rows == 0:
            continue  # an empty part file holds no rows — always clean
        cols = checkpoint.footer_columns(md)
        box = None
        if all(c in cols for c in TILE_KEY):
            # level, x, y statistics of row group 0, then 1, ...
            sts = [md.row_group(rg).column(cols[c]).statistics
                   for rg in range(md.num_row_groups) for c in TILE_KEY]
            if all(st is not None and st.has_min_max for st in sts):
                box = tuple(f(getattr(st, m) for st in sts[i::3])
                            for i in range(3)
                            for f, m in ((min, "min"), (max, "max")))
        out.append((path, md.num_rows, box))
    return out


def _file_may_hold_covered(stats, flipped: list[tuple[int, int, int]]) -> bool:
    """Conservative test: can a file whose (level, x, y) box is ``stats``
    contain a row whose instance lies under any flipped tile? A covered
    row's OLD assigned tile is an ancestor or descendant of some flipped
    tile (two tiles covering the same point nest), so per level ``lv`` in
    the file's range the candidate keys are: the flipped tile's ancestor
    key at lv (single cell) when lv <= L, else the flipped tile's
    descendant range at lv."""
    l0, l1, x0, x1, y0, y1 = stats
    for lv in range(l0, l1 + 1):
        for L, fx, fy in flipped:
            if lv <= L:
                cx, cy = fx >> (L - lv), fy >> (L - lv)
                if x0 <= cx <= x1 and y0 <= cy <= y1:
                    return True
            else:
                s = lv - L
                rx0, rx1 = fx << s, ((fx + 1) << s) - 1
                ry0, ry1 = fy << s, ((fy + 1) << s) - 1
                if rx0 <= x1 and rx1 >= x0 and ry0 <= y1 and ry1 >= y0:
                    return True
    return False


def _covered_expr(flipped: list[tuple[int, int, int]], bounds, deep_level: int):
    """Column predicate: the row's instance lies under some flipped tile.
    Evaluated on cell keys derived from lon/lat (NOT the row's old assigned
    key — a flipped tile deeper than the assigned leaf needs the point's
    own cell). Packed-literal isin per flipped level; callers cap the
    flipped count so the literal lists stay small."""
    from ..operators.tiling import with_cell_keys

    by_level: dict[int, list[int]] = {}
    for L, fx, fy in flipped:
        by_level.setdefault(L, []).append((fx << 32) | fy)
    lmax = max(by_level)

    def attach(df: DataFrame) -> DataFrame:
        return with_cell_keys(df, bounds, lmax, x_col="_ccx", y_col="_ccy")

    expr = F.lit(False)
    for L, packed in by_level.items():
        key = F.shiftleft(F.shiftright(F.col("_ccx"), lmax - L), 32).bitwiseOR(
            F.shiftright(F.col("_ccy"), lmax - L)
        )
        expr = expr | key.isin(packed)
    return attach, expr


def _content_keys_over_cells(
    cells_pdf, tiles_pdf, deep_level: int
) -> set[tuple[int, int, int]]:
    """Driver twin of ``tiling.match_content_tiles`` for key sets: the
    content tiles of ``tiles_pdf`` that are ancestors-or-self of any deep
    cell in ``cells_pdf`` (columns cell_x, cell_y at ``deep_level``)."""
    _rows, lv, x, y = tiling.match_keys(
        cells_pdf["cell_x"], cells_pdf["cell_y"], deep_level,
        tiling.content_keys(tiles_pdf))
    return set(zip(lv.tolist(), x.tolist(), y.tolist()))


def _split_covered(paths: list[str], flipped, bounds: Bounds, schema):
    """Driver twin of the covered scan: the rows of the stage-3 files at
    ``paths``, read with pyarrow and cast to ``schema``, split into the
    rows kept as they are and the covered rows — the instance lies under
    a flipped tile, found by ``tiling.match_keys`` on its cell at the
    deepest flipped level, as :func:`_covered_expr` finds it — deduped on
    url (stage 3 holds one row per matched tile). Returns (kept,
    covered) tables."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not paths:
        return schema.empty_table(), schema.empty_table()
    keys = tiling.packed_by_level(*zip(*flipped))
    lmax = max(keys)
    kept, covered = [], []
    for p in paths:
        t = checkpoint.cast_to(pq.read_table(p, use_threads=False), schema)
        cx, cy = cells.tile_xy(t.column("lon"), t.column("lat"), lmax,
                               bounds.bbox)
        hit = np.zeros(t.num_rows, bool)
        hit[tiling.match_keys(cx, cy, lmax, keys)[0]] = True
        kept.append(t.filter(pa.array(~hit)))
        covered.append(t.filter(pa.array(hit)))
    covered = pa.concat_tables(covered)
    first = ~pd.Series(covered.column("url").to_pylist()).duplicated()
    return (pa.concat_tables(kept),
            covered.filter(pa.array(first.to_numpy(bool))))


#: a flipped set larger than this means the append is reshaping a large
#: fraction of the tree: it raises IncrementalRebuildRequired, since a
#: full run_export is then both simpler and no slower. It also bounds both
#: plans' unlink sets (removed files are flipped content tiles) and the
#: tile diff the Spark plan collects
_MAX_FLIPPED_FOR_DELTA = 200_000
_MAX_DRIVER_MEMBER_ROWS = 300_000
#: largest batch, in rows, whose append runs on the driver up to the
#: re-encode (:func:`_collect_batch`); the url guard's candidate rows and
#: the stage-3 rows the driver moves (the batch plus the dirty files)
#: count against it too. Measured on local[4]: a 15k-page uniform base
#: export, a batch of N new uniform pages, append wall driver vs Spark
#: plan (guards + stage 0 + tree and assignment in brackets), median of
#: 3 (of 2 at 300k and 1M): 1k 0.29/1.35 s [0.15/1.16], 10k 0.36/1.40 s
#: [0.18/1.16], 50k 0.77/1.91 s [0.32/1.41], 100k 1.21/2.48 s
#: [0.54/1.72], 300k 4.47/6.20 s [1.40/3.68], 1M 9.64/12.67 s
#: [4.30/7.27]. No crossover up to 1M rows on one host, where the
#: executors share the driver's cores; the budget bounds what the driver
#: holds instead (the batch as Arrow; a bigger batch pays one discarded
#: collect of this many rows), at the re-encode's member-row budget.
#: Read at call time.
_MAX_DRIVER_BATCH_ROWS = 300_000


def _cap_flipped(n_flipped: int) -> None:
    if n_flipped > _MAX_FLIPPED_FOR_DELTA:
        raise IncrementalRebuildRequired(
            f"the batch flips more than {_MAX_FLIPPED_FOR_DELTA} content "
            "tiles: it reshapes a large part of the tree — run a full "
            "run_export over base ∪ batch"
        )


def _tile_diff(pdf):
    """Kernel: the tile diff of old and new stage-2 rows (columns level, x,
    y, content_available, n_instances, and ``old``, the row's side), with
    every row of a key in ``pdf``. Emits (level, x, y, was_content,
    is_content) for each key whose subtree-relevant state — existence,
    content flag, n_instances > 0, exactly what the subtree bitstreams
    read — differs; a missing side is not content. ``was_content !=
    is_content`` are the flipped tiles: an instance's content matches
    change iff a content tile over it flipped."""
    import pandas as pd

    side = pdf[[*TILE_KEY, "content_available", "old"]].assign(
        has=pdf["n_instances"] > 0)
    m = side.loc[side["old"]].merge(
        side.loc[~side["old"]], on=TILE_KEY, how="outer",
        suffixes=("_o", "_n"), indicator=True)
    was = m["content_available_o"].eq(True)
    now = m["content_available_n"].eq(True)
    changed = ((m["_merge"] != "both") | (was != now)
               | (m["has_o"] != m["has_n"]))
    return pd.DataFrame({
        "level": m.loc[changed, "level"].astype("int32"),
        "x": m.loc[changed, "x"].astype("int64"),
        "y": m.loc[changed, "y"].astype("int64"),
        "was_content": was[changed], "is_content": now[changed],
    })


def _changed_roots(diff, subtree_levels: int):
    """Kernel: the distinct subtree roots whose bitstreams read a key of
    the tile diff — each key's own root, plus the parent root of a
    boundary key (:func:`subtree.root_pairs`)."""
    import pandas as pd

    rl, rx, ry, _t = subtree.root_pairs(
        *(diff[c].to_numpy(np.int64) for c in TILE_KEY), subtree_levels)
    return pd.DataFrame({
        "root_level": rl.astype("int32"), "root_x": rx, "root_y": ry,
    }).drop_duplicates(ignore_index=True)


def _manifest_keep(pdf, excluded):
    """Kernel: the manifest rows whose relpath is not in ``excluded``."""
    return pdf.loc[~pdf["relpath"].isin(excluded)]


def _merge_manifest(spark, manifest_dir: str, incr_dir: str, drop,
                    on_driver: bool) -> int:
    """Merge the incremental manifest at ``incr_dir`` into the manifest at
    ``manifest_dir``: the old rows whose relpath is in neither ``drop``
    nor the incremental manifest, plus the incremental rows, written as a
    refreshed copy and swapped in (``checkpoint.refresh_dir`` /
    ``replace_dir``). Returns the merged row count.

    The incremental relpaths and ``drop`` are O(dirty region) and read
    to the driver on both plans. The old manifest is O(files): pandas
    written with pyarrow on the driver plan, a Spark frame through the
    same keep kernel on the Spark plan."""
    import functools

    import pandas as pd
    import pyarrow as pa

    incr = pd.read_parquet(incr_dir)
    keep = functools.partial(_manifest_keep, excluded=frozenset(drop).union(
        incr["relpath"]))
    if on_driver:
        merged = pa.Table.from_pandas(pd.concat(
            [keep(pd.read_parquet(manifest_dir)), incr], ignore_index=True),
            preserve_index=False)
    else:
        merged = map_kernel(
            keep, read_parquet(spark, manifest_dir), sinks._MANIFEST_SCHEMA
        ).unionByName(read_parquet(spark, incr_dir))
    checkpoint.replace_dir(checkpoint.refresh_dir(manifest_dir, merged),
                           manifest_dir)
    return _parquet_rows(manifest_dir)


def _delta_refresh(
    spark, ckpt: CheckpointManager, new_inst: DataFrame, tmp0: str,
    inst_columns: list[str], bounds: Bounds, opts: ExportOptions,
    n_part: int, batch=None,
) -> dict:
    """Sub-linear tree + assignment refresh (VERDICT r4 #1), the append's
    one path. Its one fork is where the tree's counts come from:

    * merge: the batch's deep-cell counts (at the persisted deep level)
      merged into the persisted base counts;
    * recount: ``tiling.build_tile_tree`` over the refreshed stage 0
      (``tmp0``) at its adaptive deep level, when the base has no counts
      checkpoint (a pre-r5 export) or a merged cell overflows below
      ``max_level``. Its counts replace the persisted ones.

    Everything after the tree runs once for both. The tree decides the
    plan: within ``tiling._MAX_DRIVER_CELLS`` it holds ``tiles_pdf`` on
    the driver and the tiles/cells-granularity steps (counts merge,
    descent, stage-2 writes, tile diff, dirty set) run in pandas/numpy.
    With the batch collected (``batch``, see :func:`_collect_batch`) the
    rows run there too and this function launches no Spark job: the
    batch's deep-cell counts are numpy, and while the batch plus the
    dirty files' footer rows fit ``_MAX_DRIVER_BATCH_ROWS`` the covered
    rows are read with pyarrow, reassigned with the batch by
    ``tiling.match_keys`` and written by the driver as the stage-3 delta.
    With the batch in Spark the only Spark jobs are its deep-cell counts,
    the covered-row scan when a tile flipped, and the stage-3 delta
    write; at small batch sizes per-job latency, not data, dominates. The
    recount is a Spark job on either. Beyond the cell budget the SAME steps
    run as Spark jobs (counts-merge groupBy, distributed descent, the
    tile diff kernel per key partition, the content-tile join over the
    batch's cells). An empty base, or more than
    ``_MAX_FLIPPED_FOR_DELTA`` flipped tiles, raise
    :class:`IncrementalRebuildRequired`. The returned ``diff`` is the
    tile diff as pandas on both plans.

    Cost model at 10^12 rows (merge): batch groupBy O(batch), counts merge
    O(cells), descent O(tiles), covered scan O(files intersecting the
    dirty region), dirty set O(batch cells + flipped), reassignment
    O(batch + covered), stage-3 refresh =
    hard-links for clean files + a rewrite of only the dirty-region files.
    No full-corpus shuffle anywhere; the recount is one, over stage 0. The
    one remaining O(corpus) term of a merge append is OUTSIDE this
    function: the append-only url guard walks every stage-3 footer (and
    reads the row groups whose url range brackets a batch url), or beyond
    its budget scans the url column in a broadcast semi-join. At 10^12
    rows the production seam for that guard is a url index (ROADMAP
    direction 7).
    """
    import pandas as pd
    import pyarrow as pa
    import time as _time

    dwalls: dict[str, float] = {}
    _dt0 = _time.perf_counter()

    def _dmark(sub: str) -> None:
        nonlocal _dt0
        now = _time.perf_counter()
        dwalls[sub] = round(dwalls.get(sub, 0.0) + (now - _dt0), 3)
        _dt0 = now

    def batch_df() -> DataFrame:
        # the batch as a Spark frame; after a collect, the stage-0 batch
        # file in tmp0 (the file the live stage 0 lacks), so no Spark step
        # evaluates the batch's source a second time
        if batch is None:
            return new_inst
        base = set(os.listdir(ckpt._stage_path("stage0_instances")))
        return read_parquet(spark, tmp0, [
            p for p in checkpoint._parquet_paths(tmp0)
            if os.path.basename(p) not in base])

    tree = counts_pdf = batch_pdf = batch_counts = None
    counts_dir = ckpt._stage_path("stage2_cellcounts")
    if ckpt.is_complete("stage2_cellcounts"):
        n_base_cells = _parquet_rows(counts_dir)
        if n_base_cells == 0:
            raise IncrementalRebuildRequired(
                f"the base export under {ckpt.root} holds no instances "
                "(empty cell counts): run a full run_export over base ∪ "
                "batch"
            )
        if n_base_cells <= tiling._MAX_DRIVER_CELLS:
            # the batch's deep-cell counts (the caller already applied
            # opts.query to new_inst): numpy over the collected batch, else
            # ONE Spark job. Base counts come straight off the checkpoint
            # parquet via pyarrow — no job.
            base_pdf = pd.read_parquet(counts_dir)
            deep_level = int(base_pdf["deep_level"].iloc[0])
            batch_pdf = (
                tiling.deep_counts(new_inst, bounds, deep_level).toPandas()
                if batch is None
                else tiling.cell_counts(batch, bounds, deep_level))
            merged = (
                pd.concat([base_pdf[["cell_x", "cell_y", "cnt"]], batch_pdf],
                          ignore_index=True)
                .groupby(["cell_x", "cell_y"], as_index=False)["cnt"].sum()
            )
            if (deep_level >= opts.max_level
                    or not (merged["cnt"] > opts.max_features_per_tile).any()):
                # with the batch on the driver nothing reads a Spark frame
                # of the tree: build none
                tree = tiling.tree_from_counts_pandas(
                    spark if batch is None else None, merged, bounds, opts,
                    deep_level)
                counts_pdf = merged.assign(deep_level=deep_level)
        else:
            base_df = read_parquet(spark, counts_dir)
            deep_level = int(base_df.select("deep_level").first()[0])
            batch_counts = tiling.deep_counts(new_inst, bounds, deep_level)
            merged_df = (
                base_df.select("cell_x", "cell_y", "cnt")
                .unionByName(batch_counts)
                .groupBy("cell_x", "cell_y")
                .agg(F.sum("cnt").alias("cnt"))
                .localCheckpoint()
            )
            if deep_level >= opts.max_level or not merged_df.filter(
                F.col("cnt") > opts.max_features_per_tile
            ).limit(1).count():
                tree = tiling._descend_distributed(merged_df, bounds, opts,
                                                   deep_level)
    recounted = tree is None
    if recounted:
        # no persisted counts, or a merged cell over the feature cap below
        # max_level: the union tree needs a finer resolution than the
        # counts hold. Recount at build_tile_tree's own adaptive level,
        # with run_export's row estimate (stage 0's footer count)
        tree = tiling.build_tile_tree(
            read_parquet(spark, tmp0), bounds, opts,
            n_estimate=_parquet_rows(tmp0),
        )
        # the batch's counts at the recount's deep level, not the merge's
        batch_pdf = (None if batch is None
                     else tiling.cell_counts(batch, bounds, tree.deep_level))
        batch_counts = tiling.deep_counts(batch_df(), bounds,
                                          tree.deep_level)
    deep_level = tree.deep_level
    _dmark("counts_and_tree")

    # stage-2 refresh writes and the tile diff (_tile_diff: the keys whose
    # subtree-relevant state changed, with the content flag before and
    # after; was != is are the flipped tiles). On the driver plan the tile
    # table is written with pyarrow (zero Spark jobs) and the kernel runs
    # over the old tiles read with pyarrow and the tree's frame. On the
    # Spark plan the table is written by Spark and the same kernel runs
    # per key partition; the flipped count is capped before the diff is
    # collected, and within the cap it is O(flipped) rows: every changed
    # key that did not flip is a tile the batch split or its child.
    cols = ["level", "x", "y", "content_available", "n_instances"]
    old2 = ckpt._stage_path("stage2_tiles")
    if tree.tiles_pdf is not None:
        tmp2 = checkpoint.refresh_dir(old2, pa.Table.from_pandas(
            tree.tiles_pdf, preserve_index=False))
        both = pd.concat([
            pd.read_parquet(old2, columns=cols).assign(old=True),
            tree.tiles_pdf[cols].assign(old=False),
        ], ignore_index=True)
    else:
        tmp2 = checkpoint.refresh_dir(old2, tree.tiles)
        both = read_parquet(spark, old2).select(
            *cols, F.lit(True).alias("old")
        ).unionByName(read_parquet(spark, tmp2).select(
            *cols, F.lit(False).alias("old")))
    diff = map_kernel(_tile_diff, both, "level int, x bigint, y bigint, "
                      "was_content boolean, is_content boolean", by=TILE_KEY)
    if not isinstance(diff, pd.DataFrame):
        diff = diff.localCheckpoint()
        _cap_flipped(diff.filter("was_content != is_content")
                     .limit(_MAX_FLIPPED_FOR_DELTA + 1).count())
        diff = diff.toPandas()
    tmp_counts = checkpoint.refresh_dir(
        counts_dir,
        tree.deep_counts_df.withColumn(
            "deep_level", F.lit(deep_level).cast("int"))
        if counts_pdf is None
        else pa.Table.from_pandas(counts_pdf, preserve_index=False))
    tiles = read_parquet(spark, tmp2)
    _dmark("write_stage2")
    fl = diff.loc[diff["was_content"] != diff["is_content"]]
    _cap_flipped(len(fl))
    flipped = list(zip(*(fl[c].astype(int).tolist() for c in TILE_KEY)))
    _dmark("flipped_keys")

    stage3_dir = ckpt._stage_path("stage3_assigned")
    stats = _stage3_file_stats(stage3_dir)
    _dmark("file_stats")
    dirty_files, clean_files, n_dirty_rows = [], [], 0
    for p, n, box in stats:
        if flipped and (box is None or _file_may_hold_covered(box, flipped)):
            dirty_files.append(p)
            n_dirty_rows += n
        else:
            clean_files.append(p)
    # the rows to move: the batch's, plus the dirty files' (the covered
    # rows are reassigned, the rest kept). On the driver while the tree is
    # and they fit the batch budget; else by Spark, over batch_df()
    rows_on_driver = batch is not None and tree.tiles_pdf is not None and (
        batch.num_rows + n_dirty_rows <= _MAX_DRIVER_BATCH_ROWS)

    if rows_on_driver:
        loose = pa.schema([f.with_nullable(True)
                           for f in checkpoint.arrow_schema(stage3_dir)])
        keep_rows, covered_old = _split_covered(dirty_files, flipped,
                                                tree.bounds, loose)
        _dmark("covered_scan")
        to_reassign = pa.concat_tables([
            checkpoint.cast_to(
                batch, pa.schema([loose.field(c) for c in inst_columns])),
            covered_old.select(inst_columns),
        ])
        delta_rows = pa.concat_tables([
            keep_rows,
            checkpoint.cast_to(tiling.assign_rows(to_reassign, tree),
                               loose)])
    else:
        if dirty_files:
            attach, covered = _covered_expr(flipped, bounds, deep_level)
            suspect = attach(read_parquet(spark, stage3_dir, dirty_files))
            covered_old = (
                suspect.filter(covered).select(*inst_columns, "level", "x",
                                               "y")
                .localCheckpoint()          # reads the dirty-region files
            )
            keep_rows = suspect.filter(~covered).select(
                *inst_columns, "level", "x", "y"
            )
        else:
            covered_old = None
            keep_rows = None
        _dmark("covered_scan")

        to_reassign = batch_df().select(*inst_columns)
        if covered_old is not None:
            # stage-3 holds one row PER MATCHED TILE (clustering mode
            # assigns an instance to its leaf AND every over-full content
            # ancestor); reassignment wants one row per INSTANCE — dedupe
            # on the unique instance key or each covered url re-enters the
            # assignment once per old match and every tile on its path
            # duplicates members
            to_reassign = to_reassign.unionByName(
                covered_old.select(*inst_columns).dropDuplicates(["url"])
            )
        # lazy: the stage-3 delta write below is its only consumer
        reassigned = tiling.assign_to_content_tiles(
            to_reassign, tree, opts
        ).select(*inst_columns, "level", "x", "y")
        delta_rows = reassigned if keep_rows is None else (
            keep_rows.unionByName(reassigned))
    _dmark("reassign")

    # the dirty set in closed form, from the batch's deep-cell counts: an
    # instance in deep cell c matches the content tiles over c, so a batch
    # instance enters exactly (anc(c) ∩ new content) and a base
    # instance's matches change by exactly (anc(c) ∩ flipped). Every
    # flipped tile has members on the side where it is content (content
    # requires cnt > 0), so its member set changed too. No url join: the
    # driver twin is numpy over the collected counts, the Spark twin runs
    # the assignment's content-tile join over the batch's cells.
    if tree.tiles_pdf is not None:
        entered = _content_keys_over_cells(
            batch_counts.toPandas() if batch_pdf is None else batch_pdf,
            tree.tiles_pdf, deep_level,
        )
    else:
        entered = {
            (int(r["level"]), int(r["x"]), int(r["y"]))
            for r in tiling.match_content_tiles(batch_counts, tree)
            .select(*TILE_KEY).distinct().collect()
        }
    dirty_keys = sorted(entered.union(flipped))
    _dmark("member_diff")

    # refreshed stage-3: hard-link every clean file, write only the
    # rewritten dirty-region rows + the reassignment as delta files, in
    # their range layout so they carry tight footer stats for the next
    # append's pruning
    tmp3 = checkpoint.refresh_dir(
        stage3_dir, delta_rows, keep=clean_files, prefix="delta-",
        n_files=max(min(n_part, 1 + len(dirty_files)), 1), sort_by=TILE_KEY)
    # the caller reads the written stage 2 (``tiles``): a distributed
    # tree's persisted tile table has no further reader
    if tree.tiles is not None:
        tree.tiles.unpersist()

    _dmark("stage3_link_write")
    return {
        "tree": tree, "tiles": tiles, "diff": diff, "tmp2": tmp2, "tmp3": tmp3,
        "tmp_counts": tmp_counts, "dirty_keys": dirty_keys, "recounted": recounted,
        "n_linked_files": len(clean_files),
        "n_rewritten_source_files": len(dirty_files),
        "walls": dwalls,
    }


def _parquet_rows(path: str) -> int:
    """Row count of a local parquet directory from its footers (no Spark
    job); raises FileNotFoundError when the directory is absent."""
    return sum(f.n_rows for f in part_files(path))

