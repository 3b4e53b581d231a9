"""End-to-end export pipeline tests: full run, outputs, resume, invariants."""

import json
import os

import pytest
from pyspark.sql import functions as F

from i3dm_export_spark.config import ExportOptions
from i3dm_export_spark.plans import pipeline
from i3dm_export_spark.sources.pages import pages_df


def _dir_bytes(path) -> dict:
    return {fn: (path / fn).read_bytes() for fn in sorted(os.listdir(path))}


@pytest.fixture(scope="module")
def export_result(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("export")
    pages = pages_df(spark, 2500, scenario="A")
    opts = ExportOptions(max_features_per_tile=100, max_level=12, use_i3dm=True)
    summary = pipeline.run_export(pages, opts, str(out))
    return out, summary


class TestEndToEnd:
    def test_summary_counts(self, export_result):
        out, s = export_result
        assert s["n_instances"] == 2500
        assert s["n_content_tiles"] > 0
        assert s["n_subtree_files"] >= 1
        assert s["text_invariant_violations"] == 0
        assert s["available_levels"] >= 4

    def test_content_files_on_disk(self, export_result):
        out, s = export_result
        files = os.listdir(out / "content")
        assert len(files) == s["n_content_tiles"]
        assert all(f.endswith(".i3dm") for f in files)
        # spot-check one payload round-trips
        from i3dm_export_spark.operators.encode import parse_i3dm

        with open(out / "content" / sorted(files)[0], "rb") as f:
            ft, _, _, payload = parse_i3dm(f.read())
        assert ft["INSTANCES_LENGTH"] > 0
        assert "RTC_CENTER" in ft

    def test_subtree_files_on_disk(self, export_result):
        out, s = export_result
        files = os.listdir(out / "subtrees")
        assert len(files) == s["n_subtree_files"]
        assert "0_0_0.subtree" in files

    def test_tileset_json(self, export_result):
        out, s = export_result
        with open(out / "tileset.json") as f:
            ts = json.load(f)
        assert ts["root"]["implicitTiling"]["availableLevels"] == s["available_levels"]
        assert ts["root"]["content"]["uri"] == "content/{level}_{x}_{y}.i3dm"
        region = ts["root"]["boundingVolume"]["region"]
        assert len(region) == 6
        # radians: lon ~34 deg = 0.593 rad
        assert 0.5 < region[0] < 0.7

    def test_per_tile_counts_match_files(self, export_result):
        out, s = export_result
        # content tile count equals the tree's content_available tiles
        ckpt_tiles = os.path.join(out, "_checkpoints", "stage2_tiles")
        import duckdb

        n = duckdb.sql(
            f"select count(*) from parquet_scan('{ckpt_tiles}/*.parquet') where content_available"
        ).fetchone()[0]
        assert n == s["n_content_tiles"]


class TestResume:
    def test_resume_skips_completed_stages(self, spark, tmp_path):
        pages = pages_df(spark, 500, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=10)
        out = tmp_path / "exp"
        s1 = pipeline.run_export(pages, opts, str(out))
        # re-run: all stages must reload (wall_ms recorded once; done markers
        # unchanged) and results identical
        mtimes = {
            f: os.path.getmtime(os.path.join(out, "_checkpoints", "_lineage", f))
            for f in os.listdir(out / "_checkpoints" / "_lineage")
            if f.endswith(".done.json")
        }
        s2 = pipeline.run_export(pages, opts, str(out))
        for f, t in mtimes.items():
            assert os.path.getmtime(os.path.join(out, "_checkpoints", "_lineage", f)) == t
        assert s1["n_content_tiles"] == s2["n_content_tiles"]
        assert s1["n_tiles_recorded"] == s2["n_tiles_recorded"]

    def test_lineage_metrics_recorded(self, spark, tmp_path):
        pages = pages_df(spark, 500, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=10)
        s = pipeline.run_export(pages, opts, str(tmp_path / "exp2"))
        stages = {m["stage"] for m in s["stage_metrics"]}
        assert {"stage0_instances", "stage2_tiles",
                "stage3_assigned"} <= stages
        # no stage materializes ECEF (the encoder computes it in-group)
        assert "stage1_encoded" not in stages
        for m in s["stage_metrics"]:
            assert m["n_rows"] > 0
            assert m["n_bytes"] > 0


class TestClusteredExport:
    def test_clustered_tiles_capped(self, spark, tmp_path):
        from i3dm_export_spark.operators.encode import parse_cmpt, parse_i3dm

        pages = pages_df(spark, 2500, scenario="A")
        opts = ExportOptions(
            max_features_per_tile=100, max_level=12, use_clustering=True
        )
        out = tmp_path / "exp3"
        s = pipeline.run_export(pages, opts, str(out))
        # the encoder writes every reduced row of a tile into its payload
        counts = [
            sum(parse_i3dm(t)[0]["INSTANCES_LENGTH"]
                for t in parse_cmpt((out / "content" / fn).read_bytes()))
            for fn in os.listdir(out / "content")
        ]
        assert len(counts) == s["n_content_tiles"]
        assert max(counts) <= 100
        # clustering doubles up: interior over-full tiles also carry content
        assert s["n_content_tiles"] > 25  # 2500/100 leaves alone would be ~25
        # the reduce runs inside the encode's group: no stage checkpoints it
        assert not os.path.exists(out / "_checkpoints" / "stage4_reduced")

    def test_resume_drops_stale_reduced_stage(self, spark, tmp_path):
        """An export directory written when the LOD reduce had its own
        checkpoint keeps a ``stage4_reduced`` stage; a resumed export
        drops it (data, lineage and marker) and leaves the outputs as
        they were."""
        import shutil

        pages = pages_df(spark, 500, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=10,
                             use_clustering=True, use_i3dm=True)
        out = tmp_path / "exp"
        pipeline.run_export(pages, opts, str(out))
        before = (_dir_bytes(out / "content"), _dir_bytes(out / "subtrees"),
                  (out / "tileset.json").read_bytes())
        ck = out / "_checkpoints"
        shutil.copytree(ck / "stage3_assigned", ck / "stage4_reduced")
        shutil.copytree(ck / "_lineage" / "stage3_assigned",
                        ck / "_lineage" / "stage4_reduced")
        shutil.copy(ck / "_lineage" / "stage3_assigned.done.json",
                    ck / "_lineage" / "stage4_reduced.done.json")
        s = pipeline.run_export(pages, opts, str(out))
        assert not os.path.exists(ck / "stage4_reduced")
        assert not os.path.exists(ck / "_lineage" / "stage4_reduced")
        assert not os.path.exists(ck / "_lineage" / "stage4_reduced.done.json")
        assert "stage4_reduced" not in {m["stage"] for m in s["stage_metrics"]}
        assert (_dir_bytes(out / "content"), _dir_bytes(out / "subtrees"),
                (out / "tileset.json").read_bytes()) == before


class TestDistributedSinks:
    def test_write_binary_files_idempotent(self, spark, tmp_path):
        from i3dm_export_spark.plans import sinks

        df = spark.createDataFrame(
            [("a/x.bin", bytearray(b"hello")), ("y.bin", bytearray(b"\x00\x01"))],
            "relpath string, payload binary",
        )
        root = tmp_path / "sink"
        n = sinks.write_binary_files(df, str(root), manifest_path=str(tmp_path / "m"))
        assert n == 2
        assert (root / "a" / "x.bin").read_bytes() == b"hello"
        assert (root / "y.bin").read_bytes() == b"\x00\x01"
        # second run: same files, same manifest count, no temp litter
        n2 = sinks.write_binary_files(df, str(root), manifest_path=str(tmp_path / "m"))
        assert n2 == 2
        assert (root / "a" / "x.bin").read_bytes() == b"hello"
        leftovers = [p for p in root.rglob("*.tmp.*")]
        assert leftovers == []

    def test_stale_same_size_file_is_rewritten(self, spark, tmp_path):
        """ADVICE r2: payload size is set by instance count / batch-table
        shape, not values — a pre-existing file of the SAME LENGTH but
        different bytes (stale tile from an earlier export of changed
        data) must be replaced, not size-skipped."""
        from i3dm_export_spark.plans import sinks

        root = tmp_path / "sink"
        root.mkdir()
        (root / "t.bin").write_bytes(b"STALE")  # same length as "FRESH"
        df = spark.createDataFrame(
            [("t.bin", bytearray(b"FRESH"))], "relpath string, payload binary"
        )
        sinks.write_binary_files(df, str(root))
        assert (root / "t.bin").read_bytes() == b"FRESH"

    def test_manifest_records_content_hash(self, spark, tmp_path):
        import hashlib

        from i3dm_export_spark.plans import sinks

        df = spark.createDataFrame(
            [("h.bin", bytearray(b"payload"))], "relpath string, payload binary"
        )
        sinks.write_binary_files(
            df, str(tmp_path / "s"), manifest_path=str(tmp_path / "m")
        )
        row = spark.read.parquet(str(tmp_path / "m")).collect()[0]
        assert row["content_md5"] == hashlib.md5(b"payload").hexdigest()

    def test_footer_stats_extent_requires_bare_scan(self, spark):
        """ADVICE r2: inputFiles() reflects the SOURCE; the metadata-only
        extent path must engage only when the frame is a bare (possibly
        column-pruned) scan of those files."""
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert pipeline._is_bare_scan(df)
        assert pipeline._is_bare_scan(df.select("doc_id", "lang"))
        assert not pipeline._is_bare_scan(df.filter("doc_id > 10"))
        assert not pipeline._is_bare_scan(
            df.select((df.n_chars * 2).alias("n_chars"), "lang")
        )
        assert not pipeline._is_bare_scan(spark.range(10))

    def test_filtered_frame_gets_filtered_bounds(self, spark, tmp_path):
        """End-to-end: run_export on a PRE-FILTERED frame must compute the
        root region from the filtered rows (compute_bounds fallback), not
        the parquet footer stats of the full source."""
        import json

        pages = pages_df(spark, 400, scenario="A")
        src = tmp_path / "pages_src"
        pages.write.parquet(str(src))
        stored = spark.read.parquet(str(src))
        med = stored.approxQuantile("lon", [0.5], 0.0)[0]
        filtered = stored.filter(F.col("lon") > med)
        opts = ExportOptions(max_features_per_tile=100, max_level=8)
        out = tmp_path / "exp_filtered"
        pipeline.run_export(filtered, opts, str(out), write_content=False)
        ts = json.loads((out / "tileset.json").read_text())
        region = ts["root"]["boundingVolume"]["region"]
        import math

        min_lon_deg = math.degrees(region[0])
        full_min = stored.agg(F.min("lon")).collect()[0][0]
        # root region must start near the filtered min (> median), far from
        # the full-source min
        assert min_lon_deg > full_min + 0.5 * (med - full_min)

    def test_resume_after_input_mutation_fails_loudly(self, spark, tmp_path):
        """VERDICT r2 item 9: the parquet-fallback snapshot pin. A resume
        whose INPUT FILES changed since the checkpoints were written must
        raise StaleCheckpointError, not silently reuse stale stages."""
        from i3dm_export_spark.plans.checkpoint import StaleCheckpointError

        src = tmp_path / "src"
        pages_df(spark, 300, scenario="A").write.parquet(str(src))
        stored = spark.read.parquet(str(src))
        out = tmp_path / "exp_stale"
        opts = ExportOptions(max_features_per_tile=100, max_level=8)
        pipeline.run_export(stored, opts, str(out), write_content=False)

        # mutate the input in place (different rows, new files)
        pages_df(spark, 500, scenario="A").write.mode("overwrite").parquet(
            str(src)
        )
        stored2 = spark.read.parquet(str(src))
        with pytest.raises(StaleCheckpointError, match="different input"):
            pipeline.run_export(stored2, opts, str(out), write_content=False)

    def test_export_never_materializes_on_driver(self, spark, tmp_path, monkeypatch):
        """K1/K3 plan gate (VERDICT r1 items 1-2, 10): the export hot path
        must not pull payloads or the tile table through the driver. The
        one driver collect allowed is the tree's deep-cell counts, capped
        at the cell budget (``tiling.tree_from_counts``)."""
        from i3dm_export_spark.operators import tiling

        pages = pages_df(spark, 500, scenario="A")
        # the session's concrete frame class: pyspark's classic DataFrame
        # overrides the collect methods of the ``pyspark.sql.DataFrame``
        # base, so patching the base intercepts nothing
        frame_cls = type(pages)
        allowed = []

        def _boom(name):
            real = getattr(frame_cls, name)

            def _f(self, *a, **k):
                if not allowed:
                    raise AssertionError(
                        f"driver materialization via {name} in export path")
                return real(self, *a, **k)
            return _f

        tree_from_counts = tiling.tree_from_counts

        def _counts_collect_allowed(*a, **k):
            allowed.append(True)
            try:
                return tree_from_counts(*a, **k)
            finally:
                allowed.pop()

        for name in ("toLocalIterator", "toPandas", "toArrow"):
            monkeypatch.setattr(frame_cls, name, _boom(name))
        monkeypatch.setattr(tiling, "tree_from_counts", _counts_collect_allowed)
        with pytest.raises(AssertionError, match="via toPandas"):
            spark.range(3).toPandas()
        opts = ExportOptions(max_features_per_tile=100, max_level=10)
        s = pipeline.run_export(pages, opts, str(tmp_path / "exp_gate"))
        assert s["n_content_tiles"] > 0
        assert s["n_subtree_files"] >= 1
        # clustered, with hot tiles: the hot keys come from the tile table
        # the driver already holds, and the reduce runs in executors
        opts = ExportOptions(max_features_per_tile=100, max_level=10,
                             use_clustering=True, skew_salt_threshold=2.0)
        s = pipeline.run_export(pages, opts, str(tmp_path / "exp_gate_c"))
        assert s["n_content_tiles"] > 0
        # a bare parquet scan takes the one-task plan: its one collect is
        # the kernel's summary row, and nothing else reaches the driver
        src = str(tmp_path / "src")
        pages.write.parquet(src)
        s = pipeline.run_export(spark.read.parquet(src), opts,
                                str(tmp_path / "exp_gate_t"))
        assert s["one_task"] is True and s["n_content_tiles"] > 0


class TestCachedRelations:
    @pytest.mark.parametrize("cells_budget", [None, 0])
    def test_export_leaves_no_cached_relation(self, spark, tmp_path,
                                              monkeypatch, cells_budget):
        """Neither descent leaves a cached tile table behind: the driver
        descent caches none, the distributed one (cell budget 0) is
        unpersisted once stage 2 is written, and so is a tree the build
        abandoned for a deeper level (scenario S retries deeper)."""
        from i3dm_export_spark.operators import tiling

        if cells_budget is not None:
            monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", cells_budget)
        spark.catalog.clearCache()
        cache = spark._jsparkSession.sharedState().cacheManager()
        opts = ExportOptions(max_features_per_tile=100, max_level=10,
                             use_clustering=True)
        s = pipeline.run_export(pages_df(spark, 500, scenario="S"), opts,
                                str(tmp_path / "exp"))
        assert s["n_content_tiles"] > 0
        assert cache.isEmpty()


class TestTextInvariantModes:
    def test_full_join_mode_agrees_with_agg(self, spark, tmp_path):
        pages = pages_df(spark, 300, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=8)
        s_full = pipeline.run_export(
            pages, opts, str(tmp_path / "f"), write_content=False,
            text_invariant="full",
        )
        s_agg = pipeline.run_export(
            pages, opts, str(tmp_path / "a"), write_content=False,
            text_invariant="agg",
        )
        assert s_full["text_invariant_violations"] == 0
        assert s_agg["text_invariant_violations"] == 0

    @pytest.mark.parametrize("mode", ["agg", "full"])
    def test_rewritten_stage3_fingerprint_fires(self, spark, tmp_path, mode):
        """A completed export whose stage-3 checkpoint carries one wrong
        text fingerprint: the rerun resumes (on the Spark plan) and the
        invariant reports the url."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from i3dm_export_spark.plans.checkpoint import part_files

        pages = pages_df(spark, 300, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=8)
        out = str(tmp_path / "exp")
        first = pipeline.run_export(pages, opts, out, text_invariant=mode)
        assert first["text_invariant_violations"] == 0
        path = next(f.path for f in part_files(os.path.join(
            out, "_checkpoints", "stage3_assigned")) if f.n_rows)
        t = pq.read_table(path)
        fp = t.column("text_fp").to_numpy().copy()
        fp[0] ^= 1
        pq.write_table(t.set_column(t.schema.get_field_index("text_fp"),
                                    t.schema.field("text_fp"),
                                    pa.array(fp, t.schema.field(
                                        "text_fp").type)), path)
        # Spark's checksum of the old bytes would fail the read
        crc = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        again = pipeline.run_export(pages, opts, out, text_invariant=mode)
        assert again["one_task"] is False
        assert again["text_invariant_violations"] == 1


class TestPartialSinkResume:
    def test_deleted_file_restored_others_untouched(self, spark, tmp_path):
        """north_rule resume: after a kill that lost one tile file, a
        re-run restores ONLY the missing file — completed tiles are
        skipped (size-match fast path), stages reload from checkpoints."""
        import time

        pages = pages_df(spark, 500, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=10,
                             use_i3dm=True)
        out = tmp_path / "exp"
        pipeline.run_export(pages, opts, str(out))
        content = out / "content"
        files = sorted(os.listdir(content))
        assert len(files) >= 2
        victim = files[0]
        (content / victim).unlink()
        mtimes = {f: os.path.getmtime(content / f) for f in files[1:]}
        time.sleep(1.1)  # mtime resolution guard
        pipeline.run_export(pages, opts, str(out))
        assert os.path.exists(content / victim)
        for f, t in mtimes.items():
            assert os.path.getmtime(content / f) == t, f


def _subtree_outputs(out) -> tuple:
    """subtrees/ bytes, subtree manifest rows (sorted) and tileset.json."""
    import pyarrow.parquet as pq

    manifest = pq.read_table(
        os.path.join(out, "_checkpoints", "_sink_manifests", "subtrees"))
    rows = sorted(zip(*(manifest[c].to_pylist()
                        for c in ("relpath", "n_bytes", "content_md5"))))
    return (_dir_bytes(out / "subtrees"), rows,
            (out / "tileset.json").read_bytes())


def _forbid(monkeypatch, module, name):
    def _boom(*a, **k):
        raise AssertionError(f"{name} ran on the other subtree path")

    monkeypatch.setattr(module, name, _boom)


class TestDriverSubtreeParity:
    """Subtree files of the driver-held tile table (assembled and written
    on the driver) against the Spark twin forced by a subtree-write budget
    of 0: identical files, manifest rows and tileset.json."""

    def _pair(self, tmp_path, pages, opts):
        from i3dm_export_spark.operators import subtree
        from i3dm_export_spark.plans import sinks

        drv, twin = tmp_path / "driver", tmp_path / "twin"
        with pytest.MonkeyPatch.context() as mp:
            _forbid(mp, subtree, "build_subtrees_spark")
            s_drv = pipeline.run_export(pages, opts, str(drv))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sinks, "_MAX_DRIVER_SUBTREE_WRITES", 0)
            _forbid(mp, subtree, "build_subtrees_pandas_for_roots")
            s_twin = pipeline.run_export(pages, opts, str(twin))
        assert s_drv["n_subtree_files"] == s_twin["n_subtree_files"] > 1
        assert s_drv["subtree_levels"] == s_twin["subtree_levels"]
        assert _subtree_outputs(drv) == _subtree_outputs(twin)
        return drv, twin

    def test_clustered_gpu(self, spark, tmp_path):
        self._pair(tmp_path, pages_df(spark, 1500, scenario="S"),
                   ExportOptions(max_features_per_tile=100, max_level=8,
                                 use_clustering=True,
                                 use_gpu_instancing=True))

    def test_scenario_a_i3dm_fresh_and_resumed(self, spark, tmp_path,
                                               monkeypatch):
        """Also a rerun that lost the subtree tail: it reloads stage 2, so
        its tile table comes from the footer-gated pyarrow read of the
        checkpoint; it must still take the driver path and restore the
        tail byte for byte."""
        import shutil

        from i3dm_export_spark.operators import subtree

        pages = pages_df(spark, 2500, scenario="A")
        opts = ExportOptions(max_features_per_tile=100, max_level=12,
                             use_i3dm=True)
        drv, twin = self._pair(tmp_path, pages, opts)
        shutil.rmtree(drv / "subtrees")
        shutil.rmtree(drv / "_checkpoints" / "_sink_manifests" / "subtrees")
        (drv / "tileset.json").unlink()
        _forbid(monkeypatch, subtree, "build_subtrees_spark")
        pipeline.run_export(pages, opts, str(drv))
        assert _subtree_outputs(drv) == _subtree_outputs(twin)
