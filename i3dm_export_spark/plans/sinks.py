"""K1/K3 binary sinks: executor-side for payloads, a driver twin for small
file sets already on the driver.

The reference writes each tile from its single process
(src/ImplicitTiling.cs:122-133, src/Program.cs:143-149); at cluster scale
the payload bytes must never funnel through one process, so the main
sink is a ``mapInPandas`` writer (:func:`write_binary_files`): every task
writes its own partition's files straight to ``root_dir`` (shared storage
on a real cluster — NFS/FUSE/object-store mount; the local filesystem
under local[*]) and emits a (relpath, n_bytes, content_md5) manifest row
per file.

Subtree files are assembled from the tile table, which is O(tiles) and,
under the tile budget, already on the driver. While their root set fits
``_MAX_DRIVER_SUBTREE_WRITES``, :func:`write_subtrees` (the one
driver-vs-Spark rule of the export and the append) assembles and writes
them on the driver, through :func:`write_binary_files_driver`, instead of
a tile-row shuffle plus a writer job.

Properties (both writers):
* **Idempotent / retry-safe**: files land via write-to-temp + atomic
  ``os.replace``; a task retry or a resumed job rewrites or skips
  (same-CONTENT fast path — byte compare, never size-only) rather than
  corrupting or silently keeping stale tiles.
* **Resumable with lineage**: the manifest is itself written as a parquet
  table next to the checkpoints, so a killed export's completed tiles are
  droppable via :func:`plans.checkpoint.anti_join_pending` and the sink
  reports per-file byte metrics (north_rule lineage requirement).
"""

from __future__ import annotations

import hashlib
import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import checkpoint

_MANIFEST_SCHEMA = "relpath string, n_bytes bigint, content_md5 string"

#: largest subtree-root set assembled and written on the driver
#: (:func:`write_subtrees`); beyond it ``build_subtrees_spark``
#: pipes into :func:`write_binary_files`. Set from the measured crossover:
#: full quadtrees at ``subtree_levels=2`` on a 4-core local[4] host,
#: assembly plus files plus manifest into a fresh directory, median of 3,
#: driver vs Spark twin — 973 roots 0.7 vs 1.8 s, 4,369 roots 2.4 vs
#: 3.8 s, 10,000 roots 5.3 vs 7.5 s, 40,000 roots 21 vs 25 s, 69,905
#: roots 31 vs 42 s, 269,905 roots 165 vs 141 s. File creation dominates
#: both sides (the assembly itself is 0.3 s at 69,905 roots), so on a
#: cluster, whose executors spread the writes, the crossover sits lower.
_MAX_DRIVER_SUBTREE_WRITES = 100_000


def _write_file(root_dir: str, rel: str, b: bytes) -> tuple[str, int, str]:
    """Write one file atomically; returns its manifest row. The resume
    fast path compares CONTENT, not just size: i3dm/subtree payload size
    is set by instance count and batch-table shape, so re-exporting
    changed data into an existing output dir would otherwise keep stale
    bytes (ADVICE r2). The size check short-circuits the read on the
    common mismatch."""
    final = os.path.join(root_dir, rel)
    current = False
    try:
        if os.path.getsize(final) == len(b):
            with open(final, "rb") as f:
                current = f.read() == b
    except OSError:
        pass
    if not current:
        parent = os.path.dirname(final)
        if parent:
            os.makedirs(parent, exist_ok=True)
        tmp = f"{final}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(b)
        os.replace(tmp, final)
    return rel, len(b), hashlib.md5(b).hexdigest()


def write_binary_files(
    files: DataFrame,
    root_dir: str,
    manifest_path: str | None = None,
) -> int:
    """Write ``files`` (relpath: string, payload: binary) under ``root_dir``
    from the executors. Returns the number of files written.

    ``relpath`` may contain subdirectories; parents are created per task.
    When ``manifest_path`` is given the (relpath, n_bytes) manifest is
    persisted there as parquet (the action that drives the writes), as a
    refreshed copy swapped in by renaming the live one aside
    (``checkpoint.refresh_dir`` / ``replace_dir``), and its row count is
    read off the written footers; otherwise a plain count() drives them.
    """
    from ..packaging import ensure_shipped

    ensure_shipped(files.sparkSession)
    os.makedirs(root_dir, exist_ok=True)

    def _write(batches):
        for pdf in batches:
            out = [_write_file(root_dir, rel, bytes(payload))
                   for rel, payload in zip(pdf["relpath"], pdf["payload"])]
            yield pd.DataFrame(
                out, columns=["relpath", "n_bytes", "content_md5"]
            )

    manifest = files.select("relpath", "payload").mapInPandas(
        _write, _MANIFEST_SCHEMA
    )
    if manifest_path:
        checkpoint.replace_dir(checkpoint.refresh_dir(manifest_path, manifest),
                               manifest_path)
        return sum(f.n_rows for f in checkpoint.part_files(manifest_path))
    return manifest.count()


def write_binary_files_driver(files, root_dir: str,
                              manifest_path: str) -> int:
    """Driver twin of :func:`write_binary_files` for ``files``, a list of
    (relpath, bytes) already on the driver: the same atomic write with
    the content-compare fast path, from a thread pool, and the same
    (relpath, n_bytes, content_md5) manifest, written with pyarrow
    (``checkpoint.write_driver_table``: its footer carries Spark's schema,
    so ``read_parquet`` of it launches no job). Returns the number of
    files."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    os.makedirs(root_dir, exist_ok=True)
    rows = []
    if files:
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as pool:
            rows = list(pool.map(lambda f: _write_file(root_dir, *f), files))
    checkpoint.write_driver_table(manifest_path, pa.table({
        c: [r[i] for r in rows]
        for i, c in enumerate(("relpath", "n_bytes", "content_md5"))}),
        _MANIFEST_SCHEMA)
    return len(rows)


def write_subtrees(tiles, tiles_pdf, subtree_levels: int, root_dir: str,
                   manifest_path: str, roots=None,
                   stage_dir: str | None = None) -> int:
    """Assemble the subtree files of ``roots`` (every root with content
    when None) and write them under ``root_dir`` with their manifest at
    ``manifest_path``; returns the number of files.

    The one driver-vs-Spark rule for subtrees, shared by the export and
    the append: the driver assembles them
    (``subtree.build_subtrees_pandas_for_roots``) and writes them
    (:func:`write_binary_files_driver`) when it holds the tile table —
    ``tiles_pdf``, or failing that ``stage_dir``'s footers count at most
    ``checkpoint._MAX_DRIVER_TILES`` rows (read with pyarrow) — and the
    root set (``roots``, else every root with content) fits
    ``_MAX_DRIVER_SUBTREE_WRITES``. Otherwise the same assembly core runs
    in executors (``subtree.build_subtrees_spark`` over the Spark frame
    ``tiles``, read from ``stage_dir`` on this branch only when None) and
    pipes into :func:`write_binary_files`."""
    from pyspark.sql import functions as F

    from ..operators import subtree

    s = subtree_levels
    if tiles_pdf is None and stage_dir is not None:
        tiles_pdf = checkpoint.read_driver_table(stage_dir)
    if tiles_pdf is not None and (
        len(roots) if roots is not None
        else subtree.n_subtree_roots(tiles_pdf, s)
    ) <= _MAX_DRIVER_SUBTREE_WRITES:
        return write_binary_files_driver(
            [(f"{rl}_{rx}_{ry}.subtree", payload) for rl, rx, ry, payload in
             subtree.build_subtrees_pandas_for_roots(tiles_pdf, roots, s)],
            root_dir, manifest_path,
        )
    if tiles is None:
        tiles = checkpoint.read_parquet(SparkSession.active(), stage_dir)
    if roots is not None:
        roots = tiles.sparkSession.createDataFrame(
            sorted(roots),
            schema="root_level int, root_x bigint, root_y bigint",
        )
    return write_binary_files(
        subtree.build_subtrees_spark(tiles, s, roots=roots).select(
            F.format_string("%d_%d_%d.subtree",
                            "root_level", "root_x", "root_y").alias("relpath"),
            "payload",
        ),
        root_dir, manifest_path=manifest_path,
    )
