#!/usr/bin/env python
"""Sizes ``pipeline._MAX_TASK_EXPORT_ROWS``: times one export of the same
parquet input on the one-task plan (the budget above the input's rows)
and on the Spark plan (the budget at 0), interleaved, for two inputs:

* ``uniform`` — uniform pages, i3dm content (``max_features_per_tile``
  1000, ``max_level`` 14), the shape of perfbench's ``append_serve_mix``
  base export;
* ``urban`` — scenario-S pages (90% in one 0.001-degree cell), clustering
  and GPU glb content (300, ``max_level`` 6), the shape of perfbench's
  ``export_urban_lod``.

    python scripts/task_export_budget.py [rows ...]

Run from the repository root; one Spark session at local[4] (shuffle
partitions 4). Prints one JSON line per (input, rows): the median wall of
each plan over ``REPS`` interleaved pairs and the peak RSS of the largest
Python worker so far (sizes run in ascending order, and a reused worker's
peak only grows). Scratch data goes under a temporary directory.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

REPS = 3
SIZES = (2_500, 10_000, 30_000, 100_000, 300_000)


def _worker_peak_mb() -> float:
    """Largest VmHWM among this process's Python descendants (the
    PySpark daemon and its workers)."""
    parents, names = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        parents[int(d)] = int(s[s.rindex(")") + 2:].split()[1])
        names[int(d)] = s[s.index("(") + 1:s.rindex(")")]
    family, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parents.items() if pp in frontier} - family
        family |= frontier
    peak = 0.0
    for pid in family:
        if not names.get(pid, "").startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
        except OSError:
            pass
    return peak


def main(sizes) -> None:
    from i3dm_export_spark.config import ExportOptions
    from i3dm_export_spark.plans import pipeline
    from i3dm_export_spark.session import get_spark
    from perfbench import inputs

    spark = get_spark(app_name="task_export_budget", master="local[4]",
                      shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="task_export_budget_")
    kinds = {
        "uniform": (lambda n: inputs.uniform_pages(7, n),
                    ExportOptions(use_i3dm=True, max_features_per_tile=1000,
                                  max_level=14)),
        "urban": (lambda n: inputs.urban_pages(7, n, 6),
                  ExportOptions(use_clustering=True, use_gpu_instancing=True,
                                max_features_per_tile=300, max_level=6)),
    }
    try:
        for n in sizes:
            for kind, (pages, opts) in kinds.items():
                src = inputs.write_pages(pages(n), os.path.join(
                    work, f"{kind}{n}"), 4)
                walls = {"task": [], "spark": []}
                for rep in range(REPS + 1):  # the first pair warms up
                    order = ("task", "spark") if rep % 2 else ("spark", "task")
                    for plan in order:
                        pipeline._MAX_TASK_EXPORT_ROWS = (
                            n if plan == "task" else 0)
                        out = os.path.join(work, "out")
                        t = time.perf_counter()
                        pipeline.run_export(spark.read.parquet(src), opts,
                                            out)
                        if rep:
                            walls[plan].append(time.perf_counter() - t)
                        shutil.rmtree(out)
                print(json.dumps({
                    "input": kind, "rows": n,
                    **{f"{p}_s": round(statistics.median(w), 3)
                       for p, w in walls.items()},
                    "worker_peak_rss_mb": round(_worker_peak_mb(), 1),
                }), flush=True)
                shutil.rmtree(src)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or SIZES)
