"""Checkpoint-root garbage collection (plans/checkpoint.vacuum).

A killed job can strand multi-TB scratch beside the checkpoints (swap tmps
from plans/incremental, half-written stages, Spark _temporary job dirs) and
can leave a done marker whose data dir is gone — the latter makes
``is_complete`` true while ``read`` fails, so vacuum is a repair as well as
a space reclaim. Complete stages must be untouched and still resumable.
"""
from __future__ import annotations

import json
import os

from i3dm_export_spark.plans.checkpoint import CheckpointManager, vacuum


def _mkfile(path: str, size: int = 8) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * size)


def _fake_complete_stage(root: str, stage: str) -> None:
    _mkfile(os.path.join(root, stage, "part-0.parquet"), 64)
    _mkfile(os.path.join(root, "_lineage", stage, "part-0.parquet"), 16)
    marker = os.path.join(root, "_lineage", stage + ".done.json")
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"stage": stage, "n_rows": 1}, f)


class TestVacuumFs:
    def test_empty_and_missing_root(self, tmp_path):
        missing = vacuum(str(tmp_path / "nope"))
        assert missing == {"removed": [], "reclaimed_bytes": 0,
                           "kept_stages": [], "restored": []}
        assert vacuum(str(tmp_path))["removed"] == []

    def test_swap_scratch_removed(self, tmp_path):
        root = str(tmp_path)
        _fake_complete_stage(root, "stage0_instances")
        _mkfile(os.path.join(root, "stage0_instances._incr", "p.parquet"), 100)
        _mkfile(os.path.join(root, "stage0_instances._batch", "p.parquet"), 50)
        rep = vacuum(root)
        assert not os.path.exists(os.path.join(root, "stage0_instances._incr"))
        assert not os.path.exists(os.path.join(root, "stage0_instances._batch"))
        assert os.path.exists(os.path.join(root, "stage0_instances"))
        assert rep["reclaimed_bytes"] == 150
        assert rep["kept_stages"] == ["stage0_instances"]

    def test_underscore_infrastructure_kept(self, tmp_path):
        """_sink_manifests (and any _-prefixed shared dir) is NOT a stage:
        it never has a done marker, and deleting it would break the sinks'
        manifest reconciliation. Regression: the first vacuum cut removed
        it as a 'markerless stage'."""
        root = str(tmp_path)
        _mkfile(os.path.join(root, "_sink_manifests", "content", "m.json"), 30)
        _mkfile(os.path.join(root, "_export_meta", "meta.json"), 10)
        rep = vacuum(root)
        assert rep["removed"] == []
        assert os.path.exists(
            os.path.join(root, "_sink_manifests", "content", "m.json"))
        # but their own swap scratch is still collected
        _mkfile(os.path.join(root, "_sink_manifests._incr", "x"), 5)
        assert vacuum(root)["reclaimed_bytes"] == 5

    def test_markerless_stage_removed(self, tmp_path):
        root = str(tmp_path)
        _fake_complete_stage(root, "stage2_tiles")
        _mkfile(os.path.join(root, "stage3_assigned", "part-0.parquet"), 32)
        rep = vacuum(root)
        assert not os.path.exists(os.path.join(root, "stage3_assigned"))
        assert rep["kept_stages"] == ["stage2_tiles"]

    def test_orphaned_marker_and_lineage_removed(self, tmp_path):
        root = str(tmp_path)
        _fake_complete_stage(root, "stage0_instances")
        # half-dropped stage: marker + lineage present, data dir gone
        _fake_complete_stage(root, "ghost")
        import shutil

        shutil.rmtree(os.path.join(root, "ghost"))
        vacuum(root)
        assert not os.path.exists(
            os.path.join(root, "_lineage", "ghost.done.json"))
        assert not os.path.exists(os.path.join(root, "_lineage", "ghost"))
        # repair property: is_complete no longer lies
        mgr = CheckpointManager.__new__(CheckpointManager)
        mgr.root = root
        assert not mgr.is_complete("ghost")
        assert mgr.is_complete("stage0_instances")

    def test_spark_temporary_residue_removed_inside_kept_stage(self, tmp_path):
        root = str(tmp_path)
        _fake_complete_stage(root, "stage2_tiles")
        _mkfile(os.path.join(root, "stage2_tiles", "_temporary", "0", "t"), 40)
        rep = vacuum(root)
        assert not os.path.exists(
            os.path.join(root, "stage2_tiles", "_temporary"))
        assert os.path.exists(
            os.path.join(root, "stage2_tiles", "part-0.parquet"))
        assert rep["kept_stages"] == ["stage2_tiles"]

    def test_aside_of_missing_stage_is_restored(self, tmp_path):
        """A swap that died between its two renames leaves the live stage
        only under ``<stage>.old``: vacuum renames it back (a dry run only
        reports it), and the stage is complete again."""
        root = str(tmp_path)
        _fake_complete_stage(root, "stage3_assigned")
        live = os.path.join(root, "stage3_assigned")
        os.replace(live, live + ".old")
        rep = vacuum(root, dry_run=True)
        assert rep["restored"] == [live] and rep["removed"] == []
        assert os.path.isdir(live + ".old") and not os.path.exists(live)
        rep = vacuum(root)
        assert rep["restored"] == [live] and rep["removed"] == []
        assert rep["kept_stages"] == ["stage3_assigned"]
        assert os.path.exists(os.path.join(live, "part-0.parquet"))
        assert not os.path.exists(live + ".old")
        assert os.path.exists(
            os.path.join(root, "_lineage", "stage3_assigned.done.json"))

    def test_aside_of_missing_lineage_table_is_restored(self, tmp_path):
        """The lineage tables are swapped too (``mark_done``): an aside of
        a missing one is restored, not dropped as orphaned lineage."""
        root = str(tmp_path)
        _fake_complete_stage(root, "stage0_instances")
        live = os.path.join(root, "_lineage", "stage0_instances")
        os.replace(live, live + ".old")
        _mkfile(os.path.join(live + "._incr", "part-0.parquet"), 9)
        rep = vacuum(root, dry_run=True)
        assert rep["restored"] == [live]
        assert rep["removed"] == [live + "._incr"]
        rep = vacuum(root)
        assert rep["restored"] == [live]
        assert rep["removed"] == [live + "._incr"]
        assert os.path.exists(os.path.join(live, "part-0.parquet"))
        assert sorted(os.listdir(os.path.join(root, "_lineage"))) == [
            "stage0_instances", "stage0_instances.done.json"]

    def test_aside_of_live_stage_is_reclaimed(self, tmp_path):
        """An aside beside a live stage is a finished swap's: reclaimed,
        and the live stage is untouched."""
        root = str(tmp_path)
        _fake_complete_stage(root, "stage2_tiles")
        _mkfile(os.path.join(root, "stage2_tiles.old", "part-0.parquet"), 70)
        rep = vacuum(root)
        assert rep["removed"] == [os.path.join(root, "stage2_tiles.old")]
        assert rep["reclaimed_bytes"] == 70 and rep["restored"] == []
        assert os.path.exists(
            os.path.join(root, "stage2_tiles", "part-0.parquet"))

    def test_manifest_aside_and_scratch(self, tmp_path):
        """The manifest merges swap inside ``_sink_manifests``: an aside
        there is restored or reclaimed like a stage's, and a refreshed
        copy left by a crash is reclaimed."""
        root = str(tmp_path)
        sinks = os.path.join(root, "_sink_manifests")
        _mkfile(os.path.join(sinks, "content.old", "part-0.parquet"), 30)
        _mkfile(os.path.join(sinks, "content._incr", "part-0.parquet"), 20)
        _mkfile(os.path.join(sinks, "subtrees", "part-0.parquet"), 10)
        _mkfile(os.path.join(sinks, "subtrees.old", "part-0.parquet"), 5)
        rep = vacuum(root)
        assert rep["restored"] == [os.path.join(sinks, "content")]
        assert sorted(rep["removed"]) == [os.path.join(sinks, "content._incr"),
                                          os.path.join(sinks, "subtrees.old")]
        assert rep["reclaimed_bytes"] == 25
        assert sorted(os.listdir(sinks)) == ["content", "subtrees"]

    def test_dry_run_reports_without_deleting(self, tmp_path):
        root = str(tmp_path)
        _mkfile(os.path.join(root, "stage0_instances._incr", "p"), 100)
        rep = vacuum(root, dry_run=True)
        assert rep["reclaimed_bytes"] == 100
        assert os.path.exists(os.path.join(root, "stage0_instances._incr"))
        rep2 = vacuum(root)
        assert rep2["removed"] == rep["removed"]
        assert not os.path.exists(os.path.join(root, "stage0_instances._incr"))


class TestVacuumIntegration:
    def test_real_export_checkpoints_survive_and_resume(self, spark, tmp_path):
        """vacuum on a live checkpoint root removes injected crash residue
        but leaves every completed stage resumable (run_export skips all
        stage builds on the second run)."""
        from i3dm_export_spark.config import ExportOptions
        from i3dm_export_spark.plans.pipeline import run_export
        from i3dm_export_spark.sources.pages import pages_df

        out = str(tmp_path / "out")
        pages = pages_df(spark, 400, "A")
        opts = ExportOptions(geometric_error=1000.0,
                             max_features_per_tile=200, use_i3dm=True)
        run_export(pages, opts, out)
        root = os.path.join(out, "_checkpoints")
        # injected crash residue
        _mkfile(os.path.join(root, "stage3_assigned._incr", "p.parquet"), 10)
        _mkfile(os.path.join(root, "half_written_stage", "p.parquet"), 10)
        rep = vacuum(root)
        assert os.path.join(root, "stage3_assigned._incr") in rep["removed"]
        assert os.path.join(root, "half_written_stage") in rep["removed"]
        assert "stage3_assigned" in rep["kept_stages"]
        # resume still skips everything: no stage dir mtime changes
        mtimes = {
            s: os.path.getmtime(os.path.join(root, s))
            for s in rep["kept_stages"]
        }
        run_export(pages, opts, out)
        for s, m in mtimes.items():
            assert os.path.getmtime(os.path.join(root, s)) == m

    def test_cli_vacuum_mode(self, tmp_path, capsys):
        from i3dm_export_spark.__main__ import main

        root = str(tmp_path / "_checkpoints")
        _mkfile(os.path.join(root, "stage0_instances._incr", "p"), 20)
        rep = main(["--vacuum_checkpoints", "-o", str(tmp_path)])
        assert rep["reclaimed_bytes"] == 20
        assert json.loads(capsys.readouterr().out.strip())["removed"]

    def test_cli_still_requires_connection_for_exports(self):
        import pytest

        from i3dm_export_spark.__main__ import main

        with pytest.raises(SystemExit, match="connection"):
            main(["-o", "/tmp/x"])
