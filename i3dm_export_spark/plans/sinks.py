"""K1/K3 executor-side binary sinks (no driver materialization).

The reference writes each tile from its single process
(src/ImplicitTiling.cs:122-133, src/Program.cs:143-149); at cluster scale
the payload bytes must never funnel through one process, so the sink here
is a ``mapInPandas`` writer: every task writes its own partition's files
straight to ``root_dir`` (shared storage on a real cluster — NFS/FUSE/
object-store mount; the local filesystem under local[*]) and emits a
(relpath, n_bytes) manifest row per file.

Properties:
* **Distributed**: bytes flow executor -> storage; the driver only sees
  the manifest row count.
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

import os

import pandas as pd
from pyspark.sql import DataFrame

_MANIFEST_SCHEMA = "relpath string, n_bytes bigint, content_md5 string"


def write_binary_files(
    files: DataFrame,
    root_dir: str,
    manifest_path: str | None = None,
) -> int:
    """Write ``files`` (relpath: string, payload: binary) under ``root_dir``
    from the executors. Returns the number of files written.

    ``relpath`` may contain subdirectories; parents are created per task.
    When ``manifest_path`` is given the (relpath, n_bytes) manifest is
    persisted there as parquet (the action that drives the writes);
    otherwise a plain count() drives them.
    """
    os.makedirs(root_dir, exist_ok=True)

    def _write(batches):
        import hashlib
        import uuid

        def _already_current(final, b):
            # resume fast path must compare CONTENT, not just size: i3dm/
            # subtree payload size is set by instance count and batch-table
            # shape, so re-exporting changed data into an existing output
            # dir would otherwise keep stale bytes (ADVICE r2). Size check
            # short-circuits the read on the common mismatch.
            try:
                if os.path.getsize(final) != len(b):
                    return False
                with open(final, "rb") as f:
                    return f.read() == b
            except OSError:
                return False

        for pdf in batches:
            out = []
            for rel, payload in zip(pdf["relpath"], pdf["payload"]):
                b = bytes(payload)
                final = os.path.join(root_dir, rel)
                parent = os.path.dirname(final)
                if parent:
                    os.makedirs(parent, exist_ok=True)
                if not _already_current(final, b):
                    tmp = f"{final}.tmp.{uuid.uuid4().hex}"
                    with open(tmp, "wb") as f:
                        f.write(b)
                    os.replace(tmp, final)
                out.append((rel, len(b), hashlib.md5(b).hexdigest()))
            yield pd.DataFrame(
                out, columns=["relpath", "n_bytes", "content_md5"]
            )

    manifest = files.select("relpath", "payload").mapInPandas(
        _write, _MANIFEST_SCHEMA
    )
    if manifest_path:
        manifest.write.mode("overwrite").parquet(manifest_path)
        # row count straight off the written footers (pyarrow) — a Spark
        # re-read pays a second full job's latency for metadata; non-local
        # manifest roots (hdfs://, s3a://) keep the engine count
        from .checkpoint import part_files

        if os.path.isdir(manifest_path.removeprefix("file:")):
            return sum(f.n_rows for f in part_files(manifest_path))
        return files.sparkSession.read.parquet(manifest_path).count()
    return manifest.count()
