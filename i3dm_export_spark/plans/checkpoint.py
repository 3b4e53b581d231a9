"""Stage checkpointing with per-part-file lineage + metrics, and resume.

north_rule: every tile-generation stage checkpoints with per-partition
lineage and row-count/byte metrics so a killed job resumes without
recomputing completed tiles.

A stage is a parquet directory written by Spark. Its lineage is read back
from the part files' parquet footers on the driver (pyarrow) and written
as a one-file pyarrow table, so the bookkeeping after the stage write
launches no Spark job:

    _lineage/<stage>:  partition_id, n_rows, stage, wall_ms,
                       input_fingerprint, n_bytes

One row per part file. ``partition_id`` is the partition of the write
task that produced the file (the ``NNNNN`` of ``part-NNNNN``), ``n_rows``
its footer row count and ``n_bytes`` its size on disk. The done marker
``_lineage/<stage>.done.json`` records their sums. Reads of a stage pass
the schema Spark stored in a part file's footer, so they launch no
schema-inference job either.

A directory that is rewritten rather than built (the append's stage
refreshes and manifest merges, the sinks' manifests, the lineage tables)
takes two steps: :func:`refresh_dir` builds the new copy beside
it, hard-linking the files that stay, and :func:`replace_dir` swaps it
in, renaming the live directory aside until the copy is in place.

Checkpoints are parquet only. Input pinning uses a content fingerprint
of the input files (:func:`input_fingerprint`); the Iceberg table-format
seam (snapshot-id pinning, catalog-qualified locations) is deferred, and
any other ``table_format`` raises.

Resume contract: :meth:`CheckpointManager.run_stage` skips a stage entirely
when its done marker exists, otherwise recomputes it; per-tile incremental
resume is provided by :func:`anti_join_pending` (drop work keyed by
(level,x,y) that already reached the sink).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession


class StaleCheckpointError(RuntimeError):
    """A completed checkpoint was built from DIFFERENT input than the
    current run (parquet-fallback snapshot pinning, VERDICT r2 item 9).
    Resuming would silently serve stale stage output — fail loudly and
    tell the operator how to proceed instead."""


def input_fingerprint(df: DataFrame) -> str:
    """Content fingerprint of a frame's input files — the parquet-fallback
    equivalent of pinning an Iceberg snapshot id: sha256 over the sorted
    (path, size, mtime_ns) triples of ``inputFiles()``. Metadata-only (no
    data read). Returns '' for frames with no file inputs (in-memory /
    synthesized), which disables pinning rather than false-alarming."""
    import hashlib
    from urllib.parse import urlparse

    files = sorted(df.inputFiles())
    if not files:
        return ""
    h = hashlib.sha256()
    for uri in files:
        path = urlparse(uri).path or uri
        try:
            st = os.stat(path)
            h.update(f"{uri}|{st.st_size}|{st.st_mtime_ns}\n".encode())
        except OSError:
            # non-local storage: pin on the path list alone
            h.update(f"{uri}\n".encode())
    return h.hexdigest()


class PartFile(NamedTuple):
    path: str
    partition_id: int  # write task's partition; -1 when the name has none
    n_rows: int        # footer num_rows
    n_bytes: int       # file size


_PART_ID = re.compile(r"part-(\d+)")
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_paths(path: str):
    """Data files of a local parquet directory in sorted order, skipping
    the ``_``/``.`` names Spark's reader skips (``_SUCCESS``, ``.crc``,
    ``_temporary`` residue). Raises FileNotFoundError when ``path`` is not
    a driver-visible directory (``file:`` prefix tolerated)."""
    root = path.removeprefix("file:")
    if not os.path.isdir(root):
        raise FileNotFoundError(f"parquet directory not found: {path}")
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for fn in sorted(files):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                yield os.path.join(dirpath, fn)


def part_files(path: str) -> list[PartFile]:
    """Per-file footer facts of a parquet directory — metadata-only, no
    Spark job. A Spark ``count()`` over the same files is footer-only too
    but still pays a full job's scheduler latency. Raises
    FileNotFoundError on a missing or non-local directory: a caller that
    can legitimately see one checks ``os.path.isdir`` first."""
    import pyarrow.parquet as pq

    out = []
    for fp in _parquet_paths(path):
        m = _PART_ID.search(os.path.basename(fp))
        out.append(PartFile(fp, int(m.group(1)) if m else -1,
                            pq.read_metadata(fp).num_rows,
                            os.path.getsize(fp)))
    return out


#: largest tiles/manifest table handled on the driver (pandas/pyarrow/
#: numpy), judged by its footer row count (:func:`part_files`). Tile and
#: manifest rows are O(tiles), 3 orders below instances; above the budget
#: the serving tile lookup and a resumed export's subtree assembly take
#: their distributed Spark twins (the append follows its tree's side
#: instead, see ``tiling._MAX_DRIVER_CELLS``). Read at call time.
_MAX_DRIVER_TILES = 4_000_000


def read_driver_table(path: str):
    """A tile/manifest table read onto the driver with pyarrow, as pandas,
    while its footer row count is within ``_MAX_DRIVER_TILES``; None when
    it is bigger or not a driver-visible directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isdir(path.removeprefix("file:")):
        return None
    files = part_files(path)
    if sum(f.n_rows for f in files) > _MAX_DRIVER_TILES:
        return None
    tables = [pq.read_table(f.path) for f in files]
    if not tables:
        return None
    return pa.concat_tables(tables).to_pandas()


def footer_columns(meta) -> dict[str, int]:
    """Column path -> position in a parquet footer (``pq.read_metadata``),
    read off the first row group's column chunks; empty for a file with
    no row group. ``FileMetaData.schema`` would build a schema object,
    which grows driver RSS by 3-5 MB over a few hundred footers."""
    if not meta.num_row_groups:
        return {}
    first = meta.row_group(0)
    return {first.column(j).path_in_schema: j
            for j in range(first.num_columns)}


#: what a directory swap leaves beside the live directory ``final``: the
#: refreshed copy being built (:func:`refresh_dir`) and the live copy
#: renamed aside while the new one moves in (:func:`replace_dir`)
_TMP_SUFFIX = "._incr"
_ASIDE_SUFFIX = ".old"


def refresh_dir(final: str, rows, keep=(), prefix: str = "",
                n_files: int = 1, sort_by=(), schema=None) -> str:
    """Build the refreshed copy of the parquet directory ``final`` at
    ``final + "._incr"`` and return its path (:func:`replace_dir` swaps it
    in). ``final`` stays live meanwhile, so ``rows`` may read it.

    Each data file in ``keep`` is hard-linked in under its own name (a
    copy where the filesystem has none), and ``rows`` are added beside
    them as new files named ``<prefix>part-NNNNN-...``, like Spark's, so
    the lineage still parses ``part-NNNNN``:

    * a pyarrow table is written by the calling process (the driver, or
      the Python worker of the export's one-task plan), cast to the
      schema of ``final``'s first data file (:func:`arrow_schema`;
      ``schema``, a DDL string or, where no JVM is at hand, an Arrow
      schema, when ``final`` holds none; else its own) with a NOT NULL
      field relaxed only where the column holds a null (:func:`cast_to`),
      and split into at most ``n_files`` contiguous
      ``...-<uuid>-c000.snappy.parquet`` files: sorted by ``sort_by`` and
      cut between keys where Spark's range partitioner cuts
      (:func:`_range_cuts`) when given, else into equal row counts. Each
      carries Spark's schema in its footer, so :func:`read_parquet`
      launches no inference job, and pyarrow's column statistics, so
      footer pruning reads it as it reads Spark's. An empty table writes
      one empty file, as Spark's writer does;
    * a DataFrame is written by Spark, range-partitioned on ``sort_by``
      into ``n_files`` partitions when given, into a scratch directory
      inside the copy, and its data files are renamed in."""
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
    from pyspark.sql.types import StructType

    tmp = final + _TMP_SUFFIX
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for src in keep:
        dst = os.path.join(tmp, os.path.basename(src))
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
    if isinstance(rows, DataFrame):
        scratch = os.path.join(tmp, "_scratch")
        if sort_by:
            rows = rows.repartitionByRange(n_files, *sort_by)
        rows.write.parquet(scratch)
        for src in _parquet_paths(scratch):
            os.replace(src, os.path.join(tmp, prefix + os.path.basename(src)))
        shutil.rmtree(scratch)
        return tmp
    target = arrow_schema(final)
    if target is None:
        if isinstance(schema, str):
            schema = to_arrow_schema(StructType.fromDDL(schema))
        target = schema if schema is not None else rows.schema
    rows = cast_to(rows, target)
    n = max(min(n_files, rows.num_rows), 1)
    if sort_by:
        rows = rows.sort_by([(c, "ascending") for c in sort_by])
        cuts = _range_cuts(rows, sort_by, n)
    else:
        cuts = np.linspace(0, rows.num_rows, n + 1).astype(np.int64)
    rows = rows.replace_schema_metadata({
        _SPARK_SCHEMA_KEY: from_arrow_schema(rows.schema).json()})
    tag = uuid.uuid4()
    for i in range(len(cuts) - 1):
        name = f"{prefix}part-{i:05d}-{tag}-c000.snappy.parquet"
        pq.write_table(rows.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       os.path.join(tmp, name))
    return tmp


def _range_cuts(rows, keys, n: int) -> list[int]:
    """Row offsets splitting ``rows``, sorted by ``keys``, into at most
    ``n`` files as ``repartitionByRange(n, *keys)`` splits them: the
    bounds of Spark's ``RangePartitioner.determineBounds`` with every row
    as a sample of weight 1 — a file ends after the first key whose
    cumulative count reaches the next multiple of ``num_rows / n``, so a
    key never spans two files. Empty files are not cut; an empty table
    is one cut."""
    total = rows.num_rows
    if total == 0:
        return [0, 0]
    step = total / n
    cuts, target = [0], step
    for end in group_ends(rows, keys).tolist():
        if len(cuts) == n:
            break
        if end >= target:
            cuts.append(end)
            target += step
    if cuts[-1] != total:
        cuts.append(total)
    return cuts


def group_ends(rows, keys) -> np.ndarray:
    """End offsets of the runs of equal ``keys`` in the Arrow table
    ``rows`` (sorted by them): row ``ends[i-1]`` (0 for i = 0) up to
    ``ends[i]`` share one key; empty for an empty table."""
    total = rows.num_rows
    if total == 0:
        return np.empty(0, np.int64)
    change = np.zeros(total - 1, bool)
    for k in keys:
        col = rows.column(k).to_numpy()
        change |= col[1:] != col[:-1]
    return np.append(np.flatnonzero(change) + 1, total)


def replace_dir(tmp: str, final: str) -> None:
    """Swap the directory ``tmp`` in as ``final``. The live directory is
    never removed before its replacement is in place: it is renamed aside
    to ``final + ".old"``, ``tmp`` is renamed in, then the aside goes. A
    crash between the two renames leaves the live data whole under the
    aside, and the next call puts it back before it starts (an aside
    beside a live ``final`` is a finished swap's, and is dropped)."""
    aside = final + _ASIDE_SUFFIX
    if os.path.isdir(aside) and not os.path.exists(final):
        os.replace(aside, final)
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(final):
        os.replace(final, aside)
    os.replace(tmp, final)
    shutil.rmtree(aside, ignore_errors=True)


def write_driver_table(path: str, table, schema=None) -> None:
    """Replace the parquet directory ``path`` with the pyarrow ``table`` as
    one file written by this process (:func:`refresh_dir`, then
    :func:`replace_dir`); ``schema`` (DDL or Arrow) is a fresh
    directory's."""
    replace_dir(refresh_dir(path, table, schema=schema), path)


def cast_to(table, schema):
    """``table``'s columns of ``schema``, in its order and cast to its
    types; a NOT NULL field stays so only while its column holds no
    null."""
    import pyarrow as pa

    table = table.select(schema.names)
    return table.cast(pa.schema([
        f if f.nullable or not table.column(f.name).null_count
        else f.with_nullable(True) for f in schema
    ]))


def _footer_schema(path: str):
    """The Spark schema stored in the first data file's footer, or None
    when that file carries none (a plain pyarrow-written file) or the
    directory is empty; the reader then infers the schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    for fp in _parquet_paths(path):
        # the key-value metadata alone: ``pq.read_schema`` builds a schema
        # object, which grows driver RSS (see :func:`footer_columns`)
        meta = pq.read_metadata(fp).metadata or {}
        if _SPARK_SCHEMA_KEY not in meta:
            return None
        return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return None


def arrow_schema(path: str):
    """The Arrow schema of the rows of the parquet directory ``path``: the
    Spark schema in its first data file's footer, as Arrow, or that
    file's own schema when it carries none; None when ``path`` holds no
    data file."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if not os.path.isdir(path):
        return None
    spark_schema = _footer_schema(path)
    if spark_schema is not None:
        return to_arrow_schema(spark_schema)
    for fp in _parquet_paths(path):
        return pq.read_schema(fp).remove_metadata()
    return None


def read_parquet(spark: SparkSession, path: str,
                 files: list[str] | None = None) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job: the
    schema comes from the footer (:func:`_footer_schema`). Spark reads
    every file-source column as nullable either way, so the frame's schema
    equals the inferred one. ``files``: read only these data files of
    ``path``."""
    reader = spark.read
    schema = _footer_schema(path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*(files or [path]))


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, table_format: str = "parquet"):
        if table_format != "parquet":
            raise ValueError(
                f"table_format={table_format!r} is not supported: checkpoints "
                f"are parquet directories. The Iceberg table-format seam is "
                f"deferred."
            )
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.root, "_lineage", stage)

    def _done_marker(self, stage: str) -> str:
        return os.path.join(self.root, "_lineage", stage + ".done.json")

    # -- api ---------------------------------------------------------------
    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._done_marker(stage))

    def done(self, stage: str) -> dict:
        """The stage's done marker (n_rows, n_bytes, wall_ms, ...)."""
        with open(self._done_marker(stage)) as f:
            return json.load(f)

    def read(self, stage: str) -> DataFrame:
        return read_parquet(self.spark, self._stage_path(stage))

    def run_stage(
        self,
        stage: str,
        builder,
        partition_cols: list[str] | None = None,
        input_fingerprint: str = "",
    ) -> DataFrame:
        """Build-or-reload a stage. ``builder() -> DataFrame`` runs only when
        the checkpoint is absent/incomplete; the write is the stage's only
        Spark job here — lineage, marker and the returned read come from
        the part files' footers.

        When both the caller and the completed checkpoint carry a non-empty
        ``input_fingerprint`` and they differ, the input mutated since the
        checkpoint was written: raise :class:`StaleCheckpointError` instead
        of silently reusing stale stage output."""
        if self.is_complete(stage):
            if input_fingerprint:
                recorded = self.done(stage).get("input_fingerprint", "")
                if recorded and recorded != input_fingerprint:
                    raise StaleCheckpointError(
                        f"checkpoint stage '{stage}' at "
                        f"{self._stage_path(stage)} was built from different "
                        f"input (fingerprint {recorded[:12]}.. != current "
                        f"{input_fingerprint[:12]}..). Delete the checkpoint "
                        f"root or pass a fresh checkpoint_dir to re-export "
                        f"the mutated input."
                    )
            return self.read(stage)

        t0 = time.monotonic()
        df = builder()
        writer = df.write.mode("overwrite").format("parquet")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.save(self._stage_path(stage))
        wall_ms = int((time.monotonic() - t0) * 1000)

        out = self.read(stage)
        self.mark_done(stage, input_fingerprint, wall_ms=wall_ms)
        return out

    def mark_done(self, stage: str, input_fingerprint: str = "",
                  wall_ms: int | None = None, **extra) -> None:
        """Write the stage's footer-derived lineage table and its done
        marker (``extra`` keys go into the marker)."""
        import pyarrow as pa

        files = part_files(self._stage_path(stage))
        n = len(files)
        lineage = pa.table({
            "partition_id": pa.array([f.partition_id for f in files],
                                     pa.int32()),
            "n_rows": pa.array([f.n_rows for f in files], pa.int64()),
            "stage": pa.array([stage] * n, pa.string()),
            "wall_ms": pa.array([wall_ms] * n, pa.int64()),
            "input_fingerprint": pa.array([input_fingerprint] * n,
                                          pa.string()),
            "n_bytes": pa.array([f.n_bytes for f in files], pa.int64()),
        })
        write_driver_table(self._lineage_path(stage), lineage)

        with open(self._done_marker(stage), "w") as fh:
            json.dump({
                "stage": stage,
                "n_rows": sum(f.n_rows for f in files),
                "n_bytes": sum(f.n_bytes for f in files),
                "wall_ms": wall_ms,
                "input_fingerprint": input_fingerprint,
                **extra,
            }, fh)

    def drop(self, stage: str) -> None:
        """Remove a stage's done marker, lineage table and directory
        (absent ones are fine). The marker goes first, so a crash in
        between leaves an unmarked directory, which ``vacuum`` removes,
        never a marked stage without its data."""
        try:
            os.remove(self._done_marker(stage))
        except FileNotFoundError:
            pass
        shutil.rmtree(self._lineage_path(stage), ignore_errors=True)
        shutil.rmtree(self._stage_path(stage), ignore_errors=True)

    def metrics(self) -> list[dict]:
        out = []
        lineage_dir = os.path.join(self.root, "_lineage")
        if not os.path.isdir(lineage_dir):
            return out
        for name in sorted(os.listdir(lineage_dir)):
            if name.endswith(".done.json"):
                with open(os.path.join(lineage_dir, name)) as f:
                    out.append(json.load(f))
        return out


def anti_join_pending(work: DataFrame, completed: DataFrame,
                      keys=("level", "x", "y")) -> DataFrame:
    """Incremental resume: drop tile keys that already reached the sink."""
    return work.join(completed.select(*keys).distinct(), list(keys), "left_anti")


def vacuum(root: str, dry_run: bool = False) -> dict:
    """Garbage-collect a checkpoint root after crashes: reclaim scratch
    space and repair marker/data mismatches so the next resume is clean.

    At cluster scale a killed job can strand multi-TB directories that the
    resume contract tolerates (``run_stage`` rebuilds with overwrite) but
    never deletes. Five orphan classes, each safe to handle under the
    single-writer pipeline contract:

    1. **swap scratch** — ``<dir>._incr``, a refreshed copy
       (:func:`refresh_dir`) left by an append that died before its swap;
    2. **swap asides** — ``<dir>.old``, the live copy a swap renamed aside
       (:func:`replace_dir`). Beside a missing live directory it is the
       only copy of the live data and is RESTORED (renamed back); beside a
       live one it is a finished swap's and is reclaimed. Classes 1 and 2
       are looked for in the root, ``_lineage`` and ``_sink_manifests``;
    3. **incomplete stages** — a stage data dir with no ``.done.json``
       marker (crashed mid-write; the next run overwrites it anyway);
    4. **orphaned markers/lineage** — a done marker or ``_lineage/<stage>``
       whose stage data dir is gone (half-dropped stage). Left in place,
       the marker makes ``is_complete`` true while ``read`` fails — this is
       a repair, not just a space reclaim;
    5. **Spark write residue** — ``_temporary`` job dirs inside a stage
       from a killed Spark write.

    Never touches a complete stage's data, marker, or lineage. Returns
    ``{"removed": [paths], "reclaimed_bytes": N, "kept_stages": [names],
    "restored": [live paths]}``; with ``dry_run=True`` it only reports.
    """
    removed: list[str] = []
    restored: list[str] = []
    reclaimed = 0
    kept: list[str] = []

    def _rm(path: str) -> None:
        nonlocal reclaimed
        reclaimed += (
            _dir_bytes(path) if os.path.isdir(path)
            else os.path.getsize(path)
        )
        removed.append(path)
        if not dry_run:
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass

    if not os.path.isdir(root):
        return {"removed": [], "reclaimed_bytes": 0, "kept_stages": [],
                "restored": []}

    lineage_dir = os.path.join(root, "_lineage")
    for parent in (root, lineage_dir, os.path.join(root, "_sink_manifests")):
        for name in sorted(os.listdir(parent)) if os.path.isdir(parent) else ():
            path = os.path.join(parent, name)
            if not os.path.isdir(path):
                continue
            if name.endswith(_TMP_SUFFIX):  # class 1
                _rm(path)
            elif name.endswith(_ASIDE_SUFFIX):  # class 2
                live = path[: -len(_ASIDE_SUFFIX)]
                if os.path.exists(live):
                    _rm(path)
                else:
                    restored.append(live)
                    if not dry_run:
                        os.replace(path, live)

    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        # underscore-prefixed dirs are shared infrastructure, not stages
        # (_lineage, the sinks' _sink_manifests, export metadata) — stage
        # names never start with '_', so "no done marker" proves nothing
        # about them
        if (not os.path.isdir(path) or name.startswith("_")
                or name.endswith((_TMP_SUFFIX, _ASIDE_SUFFIX))):
            continue
        marker = os.path.join(lineage_dir, name + ".done.json")
        if not os.path.exists(marker):  # class 3
            _rm(path)
            continue
        kept.append(name)
        tmp = os.path.join(path, "_temporary")  # class 5
        if os.path.isdir(tmp):
            _rm(tmp)

    if os.path.isdir(lineage_dir):  # class 4
        for name in sorted(os.listdir(lineage_dir)):
            stage_dir = os.path.join(root, name.removesuffix(".done.json"))
            if not (name.endswith((_TMP_SUFFIX, _ASIDE_SUFFIX))
                    or os.path.isdir(stage_dir) or stage_dir in restored):
                _rm(os.path.join(lineage_dir, name))

    return {"removed": removed, "reclaimed_bytes": reclaimed,
            "kept_stages": kept, "restored": restored}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total
