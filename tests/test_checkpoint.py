"""Checkpoint bookkeeping contract: footer-derived lineage and Spark job
counts.

After a stage write, ``CheckpointManager.run_stage`` derives the lineage
table, the done marker and the returned frame's schema from the part
files' parquet footers, so its only Spark job is the write itself. These
tests pin that, plus the total job count of a small export, so the
per-stage bookkeeping jobs cannot come back unnoticed.
"""

import json
import os
import uuid

import duckdb
import pyarrow.parquet as pq
import pytest

from i3dm_export_spark.config import ExportOptions
from i3dm_export_spark.plans import pipeline
from i3dm_export_spark.plans.checkpoint import (
    CheckpointManager,
    part_files,
)
from i3dm_export_spark.sources.pages import pages_df

#: Spark jobs of the 500-row scenario-A export below: its data passes
#: only (stage writes, extent, the tree's counts collect, the encode-into-
#: content-sink pass and the text-invariant fingerprints; its subtree files
#: are written from the driver-held tile table)
EXPORT_JOBS_PINNED = 18
#: Spark jobs of the same export under clustering with hot tiles
#: (``skew_salt_threshold=2``, so tiles over 200 rows are hot): the
#: export's jobs plus the salted stage A over the hot tiles, whose keys
#: come from the driver's tile table. The LOD reduce runs inside the
#: encode-into-content-sink pass and writes no checkpoint of its own
CLUSTERED_EXPORT_JOBS_PINNED = 20
#: Spark jobs of a rerun of that complete export: every stage reloads, the
#: content sink re-encodes (its content-compare fast path leaves the files
#: untouched) and the text-invariant fingerprints run again
EXPORT_RERUN_JOBS_PINNED = 9
#: Spark jobs of the 500-row export from a bare parquet scan: the one-task
#: plan's one job (at most 2 allowed), which writes every stage and the
#: content files; the driver writes the rest
TASK_EXPORT_JOBS_PINNED = 2
#: Spark jobs of the same export on the Spark plan
#: (``pipeline._MAX_TASK_EXPORT_ROWS`` = 0): the source's footers give the
#: extent, so one job fewer than the in-memory source's
BARE_SCAN_SPARK_PLAN_JOBS_PINNED = 16
#: Spark jobs of a small localized append on the driver path (3 new
#: instances into one content tile of the 500-row export, no flipped
#: tile): the one collect of the batch. Its guards, deep-cell counts,
#: stage-0 and stage-3 writes, dirty set and re-encode all run on the
#: driver over the collected rows
APPEND_JOBS_PINNED = 1
#: Spark jobs of the same append on the Spark batch plan
#: (``incremental._MAX_DRIVER_BATCH_ROWS`` = 0): the guards, the stage-0
#: batch write, the batch's deep-cell counts, the stage-3 delta write and
#: the summary's batch count; the tree and the re-encode stay on the
#: driver
APPEND_BATCH_BUDGET_0_JOBS_PINNED = 15
#: Spark jobs of the same append on the Spark plan
#: (``tiling._MAX_DRIVER_CELLS`` = 0, set after the export): the
#: distributed counts merge and per-level descent, the stage-2 writes,
#: the tile diff kernel with its cap and collect, the Spark dirty set,
#: the Spark re-encode and the manifest merges through the keep kernel
#: (one write each, into the refreshed copy)
APPEND_SPARK_PLAN_JOBS_PINNED = 69


def _count_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, n_jobs)."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async listener
    # bus; drain it so no job of ``fn`` goes uncounted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _small_export(spark, out):
    pages = pages_df(spark, 500, scenario="A")
    opts = ExportOptions(max_features_per_tile=100, max_level=10)
    return _count_jobs(spark, lambda: pipeline.run_export(pages, opts, out))


@pytest.fixture(scope="module")
def small_export(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt_export"))
    summary, n_jobs = _small_export(spark, out)
    return out, summary, n_jobs


class TestJobCounts:
    def test_post_write_bookkeeping_launches_no_jobs(self, spark, tmp_path):
        def frame():
            return spark.range(0, 1000, numPartitions=4).selectExpr(
                "id", "cast(id % 7 as int) as k")

        # the same write outside run_stage: its job count is the budget
        _, n_write = _count_jobs(
            spark,
            lambda: frame().write.mode("overwrite").parquet(
                str(tmp_path / "plain")))
        ckpt = CheckpointManager(spark, str(tmp_path / "ck"))
        out, n_stage = _count_jobs(
            spark, lambda: ckpt.run_stage("s", frame))
        assert n_write >= 1
        assert n_stage == n_write  # lineage, marker, read: 0 jobs
        # the footer schema is the one Spark would infer
        assert out.schema == spark.read.parquet(ckpt._stage_path("s")).schema

    def test_resumed_stage_launches_no_jobs(self, spark, tmp_path):
        ckpt = CheckpointManager(spark, str(tmp_path / "ck"))
        first = ckpt.run_stage(
            "s", lambda: spark.range(0, 100, numPartitions=2))

        def never():
            raise AssertionError("builder ran on a complete stage")

        again, n = _count_jobs(spark, lambda: ckpt.run_stage("s", never))
        assert n == 0
        assert again.schema == first.schema
        assert again.count() == 100

    def test_small_export_total_is_pinned(self, small_export):
        _out, summary, n_jobs = small_export
        assert summary["n_instances"] == 500
        assert n_jobs <= EXPORT_JOBS_PINNED, (
            f"export ran {n_jobs} Spark jobs, pinned at "
            f"{EXPORT_JOBS_PINNED}: a new per-stage job crept in")

    def test_small_clustered_export_total_is_pinned(self, spark, tmp_path):
        pages = pages_df(spark, 500, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=10,
                             use_clustering=True, skew_salt_threshold=2.0)
        out = str(tmp_path / "exp")
        summary, n_jobs = _count_jobs(
            spark, lambda: pipeline.run_export(pages, opts, out))
        tiles = pq.read_table(os.path.join(out, "_checkpoints",
                                           "stage2_tiles")).to_pandas()
        content = tiles.loc[tiles["content_available"], "n_instances"]
        assert (content > 200).any() and (content.between(101, 200)).any()
        assert summary["n_content_tiles"] == len(content)
        assert n_jobs <= CLUSTERED_EXPORT_JOBS_PINNED, (
            f"clustered export ran {n_jobs} Spark jobs, pinned at "
            f"{CLUSTERED_EXPORT_JOBS_PINNED}")

    def test_rerun_of_complete_export_is_pinned(self, spark, tmp_path):
        out = str(tmp_path / "exp")
        first, _ = _small_export(spark, out)
        again, n_jobs = _small_export(spark, out)
        assert again["n_content_tiles"] == first["n_content_tiles"]
        assert again["n_subtree_files"] == first["n_subtree_files"]
        assert n_jobs <= EXPORT_RERUN_JOBS_PINNED, (
            f"rerun ran {n_jobs} Spark jobs, pinned at "
            f"{EXPORT_RERUN_JOBS_PINNED}")


    @pytest.mark.parametrize("budget, pinned", [
        (None, TASK_EXPORT_JOBS_PINNED), (0, BARE_SCAN_SPARK_PLAN_JOBS_PINNED)])
    def test_bare_scan_export_is_pinned(self, spark, tmp_path, monkeypatch,
                                        budget, pinned):
        if budget is not None:
            monkeypatch.setattr(pipeline, "_MAX_TASK_EXPORT_ROWS", budget)
        src = str(tmp_path / "src")
        pages_df(spark, 500, scenario="A").write.parquet(src)
        pages = spark.read.parquet(src)
        opts = ExportOptions(max_features_per_tile=100, max_level=10)
        summary, n_jobs = _count_jobs(spark, lambda: pipeline.run_export(
            pages, opts, str(tmp_path / "exp")))
        assert summary["one_task"] is (budget is None)
        assert summary["n_instances"] == 500
        assert n_jobs <= pinned, (
            f"bare-scan export ran {n_jobs} Spark jobs, pinned at {pinned}")

    def test_small_append_is_pinned(self, spark, tmp_path):
        from i3dm_export_spark.plans.incremental import incremental_append
        from tests.test_incremental import copies_in_smallest_tile

        out = str(tmp_path / "exp")
        _small_export(spark, out)
        base = pages_df(spark, 500, scenario="A")
        batch = copies_in_smallest_tile(spark, base, out).localCheckpoint()
        summary, n_jobs = _count_jobs(
            spark, lambda: incremental_append(batch, out))
        assert summary["counts_recounted"] is False
        assert summary["n_new_instances"] == 3
        assert summary["n_dirty_tiles"] == 1
        assert summary["n_stage3_rewritten_files"] == 0
        assert summary["batch_on_driver"] is True
        assert summary["reencode_on_driver"] is True
        assert n_jobs <= APPEND_JOBS_PINNED, (
            f"append ran {n_jobs} Spark jobs, pinned at "
            f"{APPEND_JOBS_PINNED}")

    def test_small_append_batch_budget_0_is_pinned(self, spark, tmp_path,
                                                   monkeypatch):
        from i3dm_export_spark.plans import incremental as incr
        from tests.test_incremental import copies_in_smallest_tile

        out = str(tmp_path / "exp")
        _small_export(spark, out)
        base = pages_df(spark, 500, scenario="A")
        batch = copies_in_smallest_tile(spark, base, out).localCheckpoint()
        monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", 0)
        summary, n_jobs = _count_jobs(
            spark, lambda: incr.incremental_append(batch, out))
        assert summary["batch_on_driver"] is False
        assert summary["n_new_instances"] == 3
        assert summary["n_dirty_tiles"] == 1
        assert summary["reencode_on_driver"] is True
        assert n_jobs <= APPEND_BATCH_BUDGET_0_JOBS_PINNED, (
            f"Spark-batch-plan append ran {n_jobs} Spark jobs, pinned at "
            f"{APPEND_BATCH_BUDGET_0_JOBS_PINNED}")

    def test_small_append_spark_plan_is_pinned(self, spark, tmp_path,
                                               monkeypatch):
        from i3dm_export_spark.operators import tiling
        from i3dm_export_spark.plans.incremental import incremental_append
        from tests.test_incremental import copies_in_smallest_tile

        out = str(tmp_path / "exp")
        _small_export(spark, out)
        base = pages_df(spark, 500, scenario="A")
        batch = copies_in_smallest_tile(spark, base, out).localCheckpoint()
        monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", 0)
        summary, n_jobs = _count_jobs(
            spark, lambda: incremental_append(batch, out))
        assert summary["counts_recounted"] is False
        assert summary["n_dirty_tiles"] == 1
        assert summary["reencode_on_driver"] is False
        assert n_jobs <= APPEND_SPARK_PLAN_JOBS_PINNED, (
            f"Spark-plan append ran {n_jobs} Spark jobs, pinned at "
            f"{APPEND_SPARK_PLAN_JOBS_PINNED}")


class TestLineageContract:
    def test_one_row_per_part_file(self, small_export):
        out, summary, _ = small_export
        root = os.path.join(out, "_checkpoints")
        stages = [m["stage"] for m in summary["stage_metrics"]]
        assert {"stage0_instances", "stage2_tiles", "stage2_cellcounts",
                "stage3_assigned"} <= set(stages)
        for stage in stages:
            stage_dir = os.path.join(root, stage)
            lineage = pq.read_table(
                os.path.join(root, "_lineage", stage)).to_pandas()
            with open(os.path.join(root, "_lineage",
                                   stage + ".done.json")) as f:
                marker = json.load(f)
            # lineage rows follow the sorted part-file names
            names = sorted(fn for fn in os.listdir(stage_dir)
                           if fn.startswith("part-"))
            assert len(lineage) == len(names), stage
            assert list(lineage["partition_id"]) == [
                int(fn.split("-")[1]) for fn in names], stage
            assert list(lineage["n_bytes"]) == [
                os.path.getsize(os.path.join(stage_dir, fn)) for fn in names
            ], stage
            n_duck = duckdb.sql(
                f"select count(*) from parquet_scan('{stage_dir}/*.parquet')"
            ).fetchone()[0]
            assert int(lineage["n_rows"].sum()) == marker["n_rows"] == n_duck
            assert int(lineage["n_bytes"].sum()) == marker["n_bytes"]
            assert set(lineage["stage"]) == {stage}

    def test_footer_helper_matches_files(self, small_export):
        out, _, _ = small_export
        stage_dir = os.path.join(out, "_checkpoints", "stage3_assigned")
        for f in part_files(stage_dir):
            assert os.path.getsize(f.path) == f.n_bytes
            assert pq.read_metadata(f.path).num_rows == f.n_rows
            assert os.path.basename(f.path).startswith(
                f"part-{f.partition_id:05d}")


class TestFooterHelper:
    def test_missing_directory_raises(self, tmp_path):
        with pytest.raises(FileNotFoundError):
            part_files(str(tmp_path / "absent"))

    def test_non_parquet_format_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="Iceberg"):
            CheckpointManager(spark, str(tmp_path), table_format="iceberg")


class TestDriverTableSwap:
    def test_crash_between_renames_keeps_old_table(self, tmp_path,
                                                    monkeypatch):
        """write_driver_table renames the live table aside before moving
        the new one in: a crash between the two renames leaves the old
        table whole under ``.old``, and the next write succeeds."""
        import pyarrow as pa

        from i3dm_export_spark.plans import checkpoint

        path = str(tmp_path / "manifest")
        checkpoint.write_driver_table(path, pa.table({"a": [1, 2]}))
        real_replace = os.replace

        def crash_on_move_in(src, dst):
            if src.endswith("._incr"):
                raise OSError("injected crash")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", crash_on_move_in)
        with pytest.raises(OSError, match="injected crash"):
            checkpoint.write_driver_table(path, pa.table({"a": [3]}))
        monkeypatch.undo()
        assert not os.path.exists(path)
        assert pq.read_table(path + ".old").column("a").to_pylist() == [1, 2]

        checkpoint.write_driver_table(path, pa.table({"a": [3]}))
        assert pq.read_table(path).column("a").to_pylist() == [3]
        assert sorted(os.listdir(tmp_path)) == ["manifest"]

    def test_aside_beside_live_table_is_dropped(self, tmp_path):
        """An aside next to a live directory is a finished swap's: the next
        swap drops it and leaves only the new table."""
        import pyarrow as pa

        from i3dm_export_spark.plans import checkpoint

        path = str(tmp_path / "manifest")
        checkpoint.write_driver_table(path, pa.table({"a": [1]}))
        checkpoint.write_driver_table(path + ".old", pa.table({"a": [0]}))
        checkpoint.write_driver_table(path, pa.table({"a": [2]}))
        assert pq.read_table(path).column("a").to_pylist() == [2]
        assert sorted(os.listdir(tmp_path)) == ["manifest"]


class TestRefreshDir:
    """``checkpoint.refresh_dir`` builds ``<dir>._incr``: kept files are
    hard-linked, rows are added as new files in the live directory's
    schema, from the driver (Arrow) or from Spark (a DataFrame)."""

    @staticmethod
    def _live(tmp_path):
        import pyarrow as pa

        from i3dm_export_spark.plans import checkpoint

        final = str(tmp_path / "stage")
        schema = pa.schema([pa.field("k", pa.int32(), nullable=False),
                            pa.field("v", pa.string())])
        checkpoint.write_driver_table(final, pa.table(
            {"k": [7, 8], "v": ["a", "b"]}, schema=schema))
        return final, part_files(final)[0].path, schema

    def test_arrow_rows_take_the_live_schema(self, tmp_path):
        import pyarrow as pa

        from i3dm_export_spark.plans import checkpoint

        final, kept, schema = self._live(tmp_path)
        rows = pa.table({"v": ["c", "d", "e"], "k": [3, 1, 2],
                         "extra": [0.5, 0.5, 0.5]})
        tmp = checkpoint.refresh_dir(final, rows, keep=[kept],
                                     prefix="delta-", n_files=2,
                                     sort_by=["k"])
        assert tmp == final + "._incr"
        linked = os.path.join(tmp, os.path.basename(kept))
        assert os.stat(linked).st_ino == os.stat(kept).st_ino
        added = sorted(n for n in os.listdir(tmp) if n.startswith("delta-"))
        assert [n[:17] for n in added] == ["delta-part-00000-",
                                           "delta-part-00001-"]
        assert all(n.endswith("-c000.snappy.parquet") for n in added)
        got = pa.concat_tables(pq.read_table(os.path.join(tmp, n))
                               for n in added)
        assert got.schema.remove_metadata() == schema
        assert got.column("k").to_pylist() == [1, 2, 3]
        assert checkpoint.arrow_schema(tmp) == schema
        # a null relaxes the NOT NULL field of the file that holds it only
        tmp = checkpoint.refresh_dir(final, pa.table(
            {"k": pa.array([None], pa.int64()), "v": ["x"]}))
        assert pq.read_schema(part_files(tmp)[0].path).field(
            "k").nullable
        assert os.listdir(final) and not os.path.exists(final + ".old")

    def test_empty_rows_write_one_empty_file(self, tmp_path):
        import pyarrow as pa

        from i3dm_export_spark.plans import checkpoint

        final, kept, schema = self._live(tmp_path)
        tmp = checkpoint.refresh_dir(final, pa.table(
            {"k": pa.array([], pa.int32()), "v": pa.array([], pa.string())}),
            keep=[kept], prefix="batch-", n_files=4)
        files = part_files(tmp)
        assert [f.n_rows for f in files] == [0, 2]
        assert os.path.basename(files[0].path).startswith("batch-part-00000-")

    def test_arrow_cuts_match_spark_range_partitioning(self, spark,
                                                       tmp_path):
        """Arrow rows sorted by ``sort_by`` are cut where
        ``repartitionByRange`` cuts them whenever Spark's range sample
        holds every row (here: 150 rows in 8 input partitions), so a
        driver-written directory has Spark's file boxes."""
        import numpy as np
        import pyarrow as pa

        from i3dm_export_spark.plans import checkpoint

        rng = np.random.default_rng(3)
        k = np.repeat(np.arange(40), rng.integers(1, 9, 40))[:150]
        rows = pa.table({"k": pa.array(rng.permutation(k), pa.int32()),
                         "v": [str(i) for i in range(len(k))]})
        boxes = {}
        for side, frame in (("arrow", rows), ("spark", spark.createDataFrame(
                rows.to_pandas(), "k int, v string"))):
            final = str(tmp_path / side)
            checkpoint.replace_dir(checkpoint.refresh_dir(
                final, frame, n_files=6, sort_by=["k"], schema="k int, v string"),
                final)
            boxes[side] = sorted(
                (min(t), max(t), len(t)) for t in (
                    pq.read_table(f.path).column("k").to_pylist()
                    for f in part_files(final)) if t)
        assert boxes["arrow"] == boxes["spark"]
        assert len(boxes["arrow"]) > 1

    def test_spark_rows_range_partitioned_and_renamed_in(self, spark,
                                                         tmp_path):
        from i3dm_export_spark.plans import checkpoint

        final, kept, _schema = self._live(tmp_path)
        rows = spark.range(30).selectExpr("cast(29 - id as int) as k",
                                          "cast(id as string) as v")
        tmp = checkpoint.refresh_dir(final, rows, keep=[kept],
                                     prefix="delta-", n_files=3,
                                     sort_by=["k"])
        assert not os.path.exists(os.path.join(tmp, "_scratch"))
        added = [f for f in part_files(tmp)
                 if os.path.basename(f.path).startswith("delta-part-")]
        assert len(added) == 3 and sum(f.n_rows for f in added) == 30
        ranges = sorted((min(k), max(k)) for k in (
            pq.read_table(f.path).column("k").to_pylist() for f in added))
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
        checkpoint.replace_dir(tmp, final)
        assert sorted(os.listdir(tmp_path)) == ["stage"]
        assert checkpoint.read_parquet(spark, final).count() == 32
