"""Incremental append (plans/incremental.py): byte parity with a
from-scratch export of the union, dirty-tile economics (untouched files
stay untouched on disk), checkpoint refresh across successive appends,
and the loud degradation paths."""

import json
import os

import pytest

from i3dm_export_spark.config import Bounds, ExportOptions
from i3dm_export_spark.plans.incremental import (
    IncrementalRebuildRequired,
    incremental_append,
)
from i3dm_export_spark.plans.pipeline import run_export
from i3dm_export_spark.sources.pages import DOCS_BBOX, pages_df

BB = Bounds(*DOCS_BBOX)
OPTS = ExportOptions(max_features_per_tile=60, max_level=8, use_i3dm=True)


def _split(spark, n_total, n_base):
    """Deterministic disjoint base/append batches: the synthesized pages
    are a pure function of the row index, so filtering the SAME n_total
    frame by url reproduces an exact partition of the union."""
    full = pages_df(spark, n_total)
    urls = sorted(r["url"] for r in full.select("url").collect())
    cut = urls[n_base]
    return full.filter(f"url < '{cut}'"), full.filter(f"url >= '{cut}'"), full


def _tree_files(root):
    out = {}
    for sub in ("content", "subtrees"):
        d = os.path.join(root, sub)
        for fn in sorted(os.listdir(d)):
            with open(os.path.join(d, fn), "rb") as f:
                out[f"{sub}/{fn}"] = f.read()
    with open(os.path.join(root, "tileset.json")) as f:
        out["tileset.json"] = f.read()
    return out


class TestIncrementalParity:
    def test_append_matches_full_rebuild_bytes(self, spark, tmp_path):
        base, batch, full = _split(spark, 900, 750)

        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)

        out_incr = str(tmp_path / "incr")
        run_export(base, OPTS, out_incr, bounds=BB)

        # snapshot mtimes before the append to prove clean files untouched
        pre_mtime = {
            fn: os.stat(os.path.join(out_incr, "content", fn)).st_mtime_ns
            for fn in os.listdir(os.path.join(out_incr, "content"))
        }

        summary = incremental_append(batch, out_incr)

        want = _tree_files(out_full)
        got = _tree_files(out_incr)
        assert set(want) == set(got)
        diff = [k for k in want if want[k] != got[k]]
        assert diff == []

        # economics: the localized append must not re-encode everything
        assert 0 < summary["n_dirty_tiles"] < summary["n_content_tiles"]
        untouched = [
            fn
            for fn, m in pre_mtime.items()
            if os.path.exists(os.path.join(out_incr, "content", fn))
            and os.stat(os.path.join(out_incr, "content", fn)).st_mtime_ns == m
        ]
        assert untouched, "every pre-existing tile file was rewritten"

    def test_two_successive_appends(self, spark, tmp_path):
        """The checkpoint refresh must leave a diffable state: A + B + C
        equals a from-scratch A∪B∪C."""
        full = pages_df(spark, 1000)
        urls = sorted(r["url"] for r in full.select("url").collect())
        a = full.filter(f"url < '{urls[800]}'")
        b = full.filter(f"url >= '{urls[800]}' and url < '{urls[920]}'")
        c = full.filter(f"url >= '{urls[920]}'")

        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)

        out_incr = str(tmp_path / "incr")
        run_export(a, OPTS, out_incr, bounds=BB)
        s1 = incremental_append(b, out_incr)
        s2 = incremental_append(c, out_incr)

        assert _tree_files(out_full) == _tree_files(out_incr)
        assert s2["n_instances"] == 1000
        # the second append reads the driver-written files of the first
        assert s1["batch_on_driver"] and s2["batch_on_driver"]

    def test_manifest_stays_consistent(self, spark, tmp_path):
        """After an append, the merged manifest matches the on-disk file
        set exactly (names and byte sizes)."""
        base, batch, _ = _split(spark, 700, 600)
        out = str(tmp_path / "o")
        run_export(base, OPTS, out, bounds=BB)
        incremental_append(batch, out)

        mani = {
            r["relpath"]: r["n_bytes"]
            for r in spark.read.parquet(
                os.path.join(out, "_checkpoints", "_sink_manifests", "content")
            ).collect()
        }
        disk = {
            fn: os.path.getsize(os.path.join(out, "content", fn))
            for fn in os.listdir(os.path.join(out, "content"))
            if fn.endswith(".i3dm")
        }
        assert mani == disk


    def test_localized_append_reassembles_few_subtrees(self, spark, tmp_path):
        """A spatially-localized append must reassemble only the subtrees
        whose bit-relevant tile rows changed — a strict subset — while
        still matching the from-scratch union bytes, and the subtrees
        manifest must keep covering every file on disk."""
        full = pages_df(spark, 900)
        base = full.filter("lon < 34.09")
        batch = full.filter("lon >= 34.09")

        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)

        out_incr = str(tmp_path / "incr")
        run_export(base, OPTS, out_incr, bounds=BB)

        summary = incremental_append(batch, out_incr)

        assert _tree_files(out_full) == _tree_files(out_incr)
        assert 0 < summary["n_dirty_subtrees"] < summary["n_subtree_files"]

        mani = {
            r["relpath"]: r["n_bytes"]
            for r in spark.read.parquet(
                os.path.join(out_incr, "_checkpoints", "_sink_manifests",
                             "subtrees")
            ).collect()
        }
        disk = {
            fn: os.path.getsize(os.path.join(out_incr, "subtrees", fn))
            for fn in os.listdir(os.path.join(out_incr, "subtrees"))
        }
        assert mani == disk


class TestIncrementalGuards:
    def test_out_of_bounds_append_degrades_loudly(self, spark, tmp_path):
        base, batch, _ = _split(spark, 500, 450)
        out = str(tmp_path / "o")
        run_export(base, OPTS, out, bounds=BB)
        shift = BB.xmax - BB.xmin + 1.0
        rogue = batch.withColumn("lon", batch["lon"] + shift)
        with pytest.raises(IncrementalRebuildRequired, match="outside"):
            incremental_append(rogue, out)

    def test_changed_opts_degrade_loudly(self, spark, tmp_path):
        base, batch, _ = _split(spark, 500, 450)
        out = str(tmp_path / "o")
        run_export(base, OPTS, out, bounds=BB)
        other = ExportOptions(max_features_per_tile=10, max_level=8,
                              use_i3dm=True)
        with pytest.raises(IncrementalRebuildRequired, match="options"):
            incremental_append(batch, out, opts=other)

    def test_recorded_removed_option_still_appends(self, spark, tmp_path):
        """An export written while ExportOptions still had
        ``precompute_ecef`` records it in its meta; an append with the
        recorded options (opts=None) must ignore the key, not fail."""
        base, batch, full = _split(spark, 900, 750)
        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)
        out_incr = str(tmp_path / "incr")
        run_export(base, OPTS, out_incr, bounds=BB)
        meta_path = os.path.join(out_incr, "_checkpoints", "_export_meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        meta["opts"]["precompute_ecef"] = False
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        incremental_append(batch, out_incr)
        assert _tree_files(out_full) == _tree_files(out_incr)

    def test_missing_base_export_degrades_loudly(self, spark, tmp_path):
        _, batch, _ = _split(spark, 500, 450)
        with pytest.raises(IncrementalRebuildRequired):
            incremental_append(batch, str(tmp_path / "nowhere"))

    @staticmethod
    def _interior_split(spark, n=700, k=50):
        """(base, batch): batch strictly inside base's lon/lat extent, so
        computed union bounds equal computed base bounds exactly."""
        from pyspark.sql import functions as F

        full = pages_df(spark, n)
        rows = full.select("url", "lon", "lat").collect()
        lons = sorted(r["lon"] for r in rows)
        lats = sorted(r["lat"] for r in rows)
        lo1, lo2 = lons[n // 5], lons[4 * n // 5]
        la1, la2 = lats[n // 5], lats[4 * n // 5]
        interior = [
            r["url"] for r in rows
            if lo1 < r["lon"] < lo2 and la1 < r["lat"] < la2
        ][:k]
        return (
            full.filter(~F.col("url").isin(interior)),
            full.filter(F.col("url").isin(interior)),
            full,
        )

    def test_z_outside_extent_degrades_loudly(self, spark, tmp_path):
        """ADVICE r3: with COMPUTED base bounds, an appended z outside the
        base z-range would shift the from-scratch union's region zmin/zmax
        — the append must refuse, not silently break byte parity."""
        from pyspark.sql import functions as F

        base, batch, _ = self._interior_split(spark)
        out = str(tmp_path / "o")
        run_export(base, OPTS, out)  # bounds computed from data
        rogue = batch.withColumn("z", F.lit(25.0))
        with pytest.raises(IncrementalRebuildRequired, match="z-range"):
            incremental_append(rogue, out)

    def test_computed_bounds_interior_append_byte_parity(self, spark, tmp_path):
        """Byte parity WITHOUT pinned bounds: an interior batch leaves the
        computed union extent identical, so append == full rebuild."""
        base, batch, full = self._interior_split(spark)
        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full)
        out_incr = str(tmp_path / "incr")
        run_export(base, OPTS, out_incr)
        incremental_append(batch, out_incr)
        assert _tree_files(out_full) == _tree_files(out_incr)

    def test_post_append_resume_keeps_input_pinning(self, spark, tmp_path):
        """VERDICT r3 item 7: after an append the refreshed checkpoints
        hold union state matching no single input — a later run_export
        resume over file-backed input must raise StaleCheckpointError
        (mutated or not), never silently serve union-state stages."""
        from i3dm_export_spark.plans.checkpoint import StaleCheckpointError

        base, batch, _ = _split(spark, 500, 450)
        base_path = str(tmp_path / "base_pq")
        batch_path = str(tmp_path / "batch_pq")
        base.write.parquet(base_path)
        batch.write.parquet(batch_path)

        out = str(tmp_path / "o")
        run_export(spark.read.parquet(base_path), OPTS, out, bounds=BB)
        incremental_append(spark.read.parquet(batch_path), out)

        # mutate the base input in place (one row fewer, new file stats)
        cut = base.select("url").orderBy("url").limit(1).collect()[0]["url"]
        mutated = base.filter(base["url"] != cut).localCheckpoint()
        mutated.write.mode("overwrite").parquet(base_path)
        with pytest.raises(StaleCheckpointError):
            run_export(spark.read.parquet(base_path), OPTS, out, bounds=BB)

    def test_stage0_refresh_is_additive(self, spark, tmp_path):
        """The refreshed stage-0 checkpoint must reuse the base's data
        files by hard link (same inode — zero corpus bytes rewritten) and
        add only batch files: the Iceberg-fast-append analogue that keeps
        append cost O(batch), not O(corpus)."""
        base, batch, _ = _split(spark, 700, 600)
        out = str(tmp_path / "o")
        run_export(base, OPTS, out, bounds=BB)
        s0 = os.path.join(out, "_checkpoints", "stage0_instances")

        def data_files(d):
            return {
                f: os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if not f.startswith(("_", "."))
            }

        before = data_files(s0)
        incremental_append(batch, out)
        after = data_files(s0)
        assert set(before) <= set(after), "base data files were dropped"
        for f, ino in before.items():
            assert after[f] == ino, f"base file {f} was rewritten, not linked"
        assert any(f.startswith("batch-") for f in after)
        assert spark.read.parquet(s0).count() == 700

    def test_preprojected_base_append_byte_parity(self, spark, tmp_path):
        """A base export over an already-projected durable instance table
        takes the stage-0 shortcut (no stage0 checkpoint — the source IS
        the durable copy, the bench/e2e path); the append must
        reconstruct the base from the recorded source files and stay
        byte-par with the full rebuild."""
        from i3dm_export_spark.plans.pipeline import stage0_instances

        base, batch, full = _split(spark, 700, 600)
        base_path = str(tmp_path / "base_inst")
        stage0_instances(base).write.parquet(base_path)
        base_pre = spark.read.parquet(base_path)

        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)
        out_incr = str(tmp_path / "incr")
        run_export(base_pre, OPTS, out_incr, bounds=BB)
        assert not os.path.exists(
            os.path.join(out_incr, "_checkpoints", "_lineage",
                         "stage0_instances.done.json")
        ), "preprojected shortcut did not engage — test premise broken"

        s = incremental_append(batch, out_incr)
        assert _tree_files(out_full) == _tree_files(out_incr)
        assert s["n_instances"] == 700

    def test_preprojected_base_mutation_fails_loudly(self, spark, tmp_path):
        """ADVICE r4 #3: the preprojected path reads the source files
        directly; if they were replaced since the export, the append must
        raise instead of diffing against data that no longer matches
        stage3_assigned."""
        from i3dm_export_spark.plans.pipeline import stage0_instances

        base, batch, _full = _split(spark, 700, 600)
        base_path = str(tmp_path / "base_inst")
        stage0_instances(base).write.parquet(base_path)
        base_pre = spark.read.parquet(base_path)

        out = str(tmp_path / "incr")
        run_export(base_pre, OPTS, out, bounds=BB)
        # mutate the durable source AFTER the export, keeping the recorded
        # paths valid parquet: clobber one part file with another (content,
        # size and mtime change; a wholesale path change would already fail
        # via PATH_NOT_FOUND — this is the silent case the guard is for)
        import shutil

        parts = sorted(
            f for f in os.listdir(base_path) if f.endswith(".parquet")
        )
        assert len(parts) >= 2, "need two part files to cross-clobber"
        shutil.copy2(os.path.join(base_path, parts[0]),
                     os.path.join(base_path, parts[1]))
        with pytest.raises(IncrementalRebuildRequired,
                           match="preprojected source files changed"):
            incremental_append(batch, out)


class TestCliAppend:
    def test_cli_append_flag(self, spark, tmp_path):
        """--append routes -c through incremental_append against the
        recorded base export; bytes match a from-scratch CLI export of
        the union."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from i3dm_export_spark.__main__ import main
        from i3dm_export_spark.sources.pages import synthesize_pages

        pdf = synthesize_pages(600)
        lo_q = pdf["lon"].quantile(0.2), pdf["lon"].quantile(0.8)
        la_q = pdf["lat"].quantile(0.2), pdf["lat"].quantile(0.8)
        interior = (
            (pdf["lon"] > lo_q[0]) & (pdf["lon"] < lo_q[1])
            & (pdf["lat"] > la_q[0]) & (pdf["lat"] < la_q[1])
        )
        batch = pdf[interior].head(40)
        base = pdf.drop(batch.index)

        p_full = str(tmp_path / "full.parquet")
        p_base = str(tmp_path / "base.parquet")
        p_batch = str(tmp_path / "batch.parquet")
        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()), ("text", pa.string()),
            ("lang", pa.string()), ("lon", pa.float64()),
            ("lat", pa.float64()), ("z", pa.float64()),
            ("scale", pa.float64()), ("yaw", pa.float64()),
            ("pitch", pa.float64()), ("roll", pa.float64()),
            ("model", pa.string()), ("tags", pa.string()),
        ])
        for frame, path in ((pdf, p_full), (base, p_base), (batch, p_batch)):
            # Spark cannot read TIMESTAMP(NANOS) and the all-None tags
            # column must stay a STRING column, hence the explicit schema
            frame = frame.assign(warc_ts=frame["warc_ts"].dt.tz_convert("UTC")
                               .dt.tz_localize(None).astype("datetime64[us]"))
            pq.write_table(
                pa.Table.from_pandas(frame, preserve_index=False,
                                     schema=schema), path
            )

        common = ["--use_i3dm", "--max_features_per_tile", "60",
                  "--max_level", "8"]
        out_full = str(tmp_path / "out_full")
        main(["-c", p_full, "-o", out_full, *common], spark=spark)

        out_incr = str(tmp_path / "out_incr")
        main(["-c", p_base, "-o", out_incr, *common], spark=spark)
        summary = main(["-c", p_batch, "-o", out_incr, "--append", *common],
                       spark=spark)
        assert summary["n_new_instances"] == 40
        assert summary["n_instances"] == 600

        # content parity is the sharp check; tileset region derives from
        # the BASE bounds (by design: appends never move the root), so
        # compare content + subtree payload maps keyed by name
        def files(root, sub):
            d = os.path.join(root, sub)
            return {
                fn: open(os.path.join(d, fn), "rb").read()
                for fn in sorted(os.listdir(d))
            }

        # full rebuild computed bounds from the union == base bounds here
        # (the appended rows are interior), so full parity must hold
        assert files(out_full, "content") == files(out_incr, "content")
        assert files(out_full, "subtrees") == files(out_incr, "subtrees")


class TestIncrementalGpuParity:
    def test_append_matches_full_rebuild_gpu_glb(self, spark, tmp_path):
        """GPU-glb payloads (EXT_mesh_gpu_instancing + binary property
        tables) are also a deterministic function of the member set."""
        opts = ExportOptions(max_features_per_tile=60, max_level=8,
                             use_gpu_instancing=True)
        base, batch, full = _split(spark, 600, 520)

        out_full = str(tmp_path / "full")
        run_export(full, opts, out_full, bounds=BB)
        out_incr = str(tmp_path / "incr")
        run_export(base, opts, out_incr, bounds=BB)
        incremental_append(batch, out_incr)

        assert _tree_files(out_full) == _tree_files(out_incr)


class TestDeltaPath:
    """The sub-linear refresh (VERDICT r4 item 1): counts merge + descent
    instead of a corpus groupBy, reassignment of batch + flipped-covered
    rows only, and a stage-3 refresh that hard-links every clean file."""

    def test_fresh_export_append_takes_delta_path(self, spark, tmp_path):
        base, batch, full = _split(spark, 900, 750)
        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)
        out_incr = str(tmp_path / "incr")
        run_export(base, OPTS, out_incr, bounds=BB)

        s3 = os.path.join(out_incr, "_checkpoints", "stage3_assigned")
        pre_ino = {
            f: os.stat(os.path.join(s3, f)).st_ino
            for f in os.listdir(s3)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        }
        summary = incremental_append(batch, out_incr)

        assert summary["counts_recounted"] is False
        assert _tree_files(out_full) == _tree_files(out_incr)
        # stage-3 economics: clean base files survive as hard links of the
        # SAME inodes (zero corpus bytes rewritten for the clean region)
        assert summary["n_stage3_linked_files"] > 0
        post_ino = {
            f: os.stat(os.path.join(s3, f)).st_ino
            for f in os.listdir(s3)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        }
        linked = [f for f, ino in pre_ino.items() if post_ino.get(f) == ino]
        assert len(linked) == summary["n_stage3_linked_files"]

    def test_pre_r5_base_falls_back_then_upgrades(self, spark, tmp_path):
        """A base export lacking the stage2_cellcounts checkpoint (pre-r5
        layout) must recount the tree's cell counts from stage 0 — same
        bytes — and persist them, so the NEXT append merges."""
        import shutil

        full = pages_df(spark, 1000)
        urls = sorted(r["url"] for r in full.select("url").collect())
        a = full.filter(f"url < '{urls[800]}'")
        b = full.filter(f"url >= '{urls[800]}' and url < '{urls[920]}'")
        c = full.filter(f"url >= '{urls[920]}'")

        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)
        out_incr = str(tmp_path / "incr")
        run_export(a, OPTS, out_incr, bounds=BB)

        ckpt_root = os.path.join(out_incr, "_checkpoints")
        shutil.rmtree(os.path.join(ckpt_root, "stage2_cellcounts"))
        for aux in ("_lineage/stage2_cellcounts.done.json",):
            p = os.path.join(ckpt_root, aux)
            if os.path.exists(p):
                os.remove(p)
        shutil.rmtree(
            os.path.join(ckpt_root, "_lineage", "stage2_cellcounts"),
            ignore_errors=True,
        )

        s1 = incremental_append(b, out_incr)
        assert s1["counts_recounted"] is True
        s2 = incremental_append(c, out_incr)
        assert s2["counts_recounted"] is False
        assert _tree_files(out_full) == _tree_files(out_incr)

    def test_distributed_twin_byte_parity(self, spark, tmp_path, monkeypatch):
        """Beyond tiling._MAX_DRIVER_CELLS the tree descends in Spark and
        every later tile-granularity step takes its Spark plan
        (distributed counts merge and descent, the tile diff kernel per
        key partition, Spark manifest merges through the keep kernel).
        Forcing the budget to 0 routes the whole append through them —
        bytes must still match a full rebuild, and the split's removed
        tile files must be gone."""
        from i3dm_export_spark.operators import tiling

        base, batch, full = _split(spark, 900, 700)
        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)
        out_incr = str(tmp_path / "incr")
        run_export(base, OPTS, out_incr, bounds=BB)
        # after the exports: only the append takes the Spark plan
        monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", 0)
        s = incremental_append(batch, out_incr)
        assert s["counts_recounted"] is False
        assert s["n_removed_files"] > 0
        assert _tree_files(out_full) == _tree_files(out_incr)

    def test_driver_roots_spark_assembly_byte_parity(
        self, spark, tmp_path, monkeypatch
    ):
        """Changed-root diff on the driver but the subtree-write budget at
        0: affected roots flow into build_subtrees_spark via
        createDataFrame and files are written by the executor sink —
        bytes must match a full rebuild."""
        from i3dm_export_spark.plans import sinks

        monkeypatch.setattr(sinks, "_MAX_DRIVER_SUBTREE_WRITES", 0)
        base, batch, full = _split(spark, 900, 750)
        out_full = str(tmp_path / "full")
        run_export(full, OPTS, out_full, bounds=BB)
        out_incr = str(tmp_path / "incr")
        run_export(base, OPTS, out_incr, bounds=BB)
        s = incremental_append(batch, out_incr)
        assert s["counts_recounted"] is False
        assert _tree_files(out_full) == _tree_files(out_incr)


class TestIncrementalEdgeCases:
    def test_duplicate_url_append_degrades_loudly(self, spark, tmp_path):
        """An appended url that already exists would alias its old row in
        the assignment diff (same-tile copies look 'unchanged' and the
        tile would silently keep one instance); must raise instead."""
        base, batch, _ = _split(spark, 500, 450)
        out = str(tmp_path / "o")
        run_export(base, OPTS, out, bounds=BB)
        overlapping = base.limit(5).unionByName(batch)
        with pytest.raises(IncrementalRebuildRequired, match="already exist"):
            incremental_append(overlapping, out)

    def test_empty_batch_is_a_noop(self, spark, tmp_path):
        base = pages_df(spark, 400)
        batch = base.filter("url > 'z'")  # empty
        out = str(tmp_path / "o")
        run_export(base, OPTS, out, bounds=BB)
        pre = {
            fn: os.stat(os.path.join(out, "content", fn)).st_mtime_ns
            for fn in os.listdir(os.path.join(out, "content"))
        }
        summary = incremental_append(batch, out)
        assert summary["n_dirty_tiles"] == 0
        assert summary["n_new_instances"] == 0
        post = {
            fn: os.stat(os.path.join(out, "content", fn)).st_mtime_ns
            for fn in os.listdir(os.path.join(out, "content"))
        }
        assert pre == post


def copies_in_smallest_tile(spark, base, out, k=3, rank=0):
    """A localized batch for the export of ``base`` under ``out``: ``k``
    new urls at the position of one instance of the smallest content
    tile (the ``rank``-th smallest), so the batch lands in that one tile
    and (k small) flips none."""
    import pandas as pd
    from pyspark.sql import functions as F

    s3 = pd.read_parquet(
        os.path.join(out, "_checkpoints", "stage3_assigned"),
        columns=["url", "level", "x", "y"],
    )
    sizes = s3.groupby(["level", "x", "y"]).size()
    level, x, y = sizes.sort_values(kind="stable").index[rank]
    url = s3.loc[(s3.level == level) & (s3.x == x) & (s3.y == y), "url"].min()
    return (
        base.filter(F.col("url") == url)
        .crossJoin(spark.range(k))
        .withColumn("url", F.format_string("%s~%d", "url", "id"))
        .drop("id")
    )


def _stage3_tile_urls(out):
    """Per-tile url sets of the stage-3 checkpoint, read with pandas."""
    import pandas as pd

    s3 = pd.read_parquet(
        os.path.join(out, "_checkpoints", "stage3_assigned"),
        columns=["url", "level", "x", "y"],
    )
    return {
        (int(lv), int(x), int(y)): frozenset(g)
        for (lv, x, y), g in s3.groupby(["level", "x", "y"])["url"]
    }


_CLUSTER_OPTS = ExportOptions(max_features_per_tile=40, max_level=8,
                              use_i3dm=True, use_clustering=True)


@pytest.fixture(scope="module")
def oracle_cases(spark, tmp_path_factory):
    """name -> (base export dir, batch, from-scratch union export dir or
    None when the batch is empty, opts) for the exact-dirty-set cases."""
    root = tmp_path_factory.mktemp("dirty_oracle")
    cases = {}

    base = pages_df(spark, 900)
    out = str(root / "localized_base")
    run_export(base, OPTS, out, bounds=BB)
    batch = copies_in_smallest_tile(spark, base, out).localCheckpoint()
    full = str(root / "localized_full")
    run_export(base.unionByName(batch), OPTS, full, bounds=BB)
    cases["localized"] = (out, batch, full, OPTS)

    for name, n_total, n_base, opts in (("split", 900, 750, OPTS),
                                        ("clustered", 700, 600, _CLUSTER_OPTS)):
        base, batch, union = _split(spark, n_total, n_base)
        out = str(root / f"{name}_base")
        run_export(base, opts, out, bounds=BB)
        full = str(root / f"{name}_full")
        run_export(union, opts, full, bounds=BB)
        cases[name] = (out, batch, full, opts)

    base = pages_df(spark, 400)
    out = str(root / "empty_base")
    run_export(base, OPTS, out, bounds=BB)
    cases["empty"] = (out, base.filter("url > 'z'"), None, OPTS)
    return cases


class TestExactDirtySet:
    """The append's dirty set is derived in closed form from the batch's
    deep-cell counts and the flipped content tiles. It must equal the
    tiles whose member url set changed in stage 3 (the oracle, read with
    pandas before and after), with byte parity against the from-scratch
    union export, on three plans: the driver twin with the batch on the
    driver, the driver twin with the batch in Spark
    (``incremental._MAX_DRIVER_BATCH_ROWS = 0``), and the cells twin
    (``tiling._MAX_DRIVER_CELLS = 0``, which keeps the batch in Spark
    too)."""

    @pytest.mark.parametrize("twin", ["driver", "cells", "spark_batch"])
    @pytest.mark.parametrize("case",
                             ["localized", "split", "clustered", "empty"])
    def test_dirty_tiles_equal_changed_member_sets(
        self, spark, tmp_path, monkeypatch, oracle_cases, case, twin
    ):
        import shutil

        import pandas as pd

        from i3dm_export_spark.operators import tiling
        from i3dm_export_spark.plans import incremental as incr

        if twin == "cells":
            monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", 0)
        if twin == "spark_batch":
            monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", 0)
        base_out, batch, full_out, opts = oracle_cases[case]
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)
        before = _stage3_tile_urls(out)
        want_files = _tree_files(full_out or base_out)

        s = incremental_append(batch, out, opts=opts)
        assert s["batch_on_driver"] is (twin == "driver")

        after = _stage3_tile_urls(out)
        changed = {
            k for k in before.keys() | after.keys()
            if before.get(k) != after.get(k)
        }
        assert s["counts_recounted"] is False
        assert s["n_dirty_tiles"] == len(changed)
        incr_manifest = pd.read_parquet(os.path.join(
            out, "_checkpoints", "_sink_manifests", "_content_incr"))
        assert set(incr_manifest["relpath"]) == {
            f"{lv}_{x}_{y}.i3dm" for lv, x, y in changed if (lv, x, y) in after
        }
        assert _tree_files(out) == want_files

        # each case's premise
        def tiles_by_url(tile_urls):
            out = {}
            for k, urls in tile_urls.items():
                for u in urls:
                    out.setdefault(u, set()).add(k)
            return out

        url_before, url_after = tiles_by_url(before), tiles_by_url(after)
        moved = {u for u, ks in url_before.items() if url_after[u] != ks}
        if case == "localized":
            assert len(changed) == 1
            assert s["n_stage3_rewritten_files"] == 0  # nothing flipped
            assert not moved
        elif case == "empty":
            assert changed == set()
        else:
            # a flip: base urls moved between tiles (covered rows rewritten)
            assert s["n_stage3_rewritten_files"] > 0
            assert moved
        if case == "clustered":
            # a moved url holding >= 2 stage-3 rows, whose rows a url-keyed
            # join would pair crosswise
            assert any(len(url_before[u]) >= 2 for u in moved)

    def test_split_bookkeeping_equal_on_both_plans(
        self, spark, tmp_path, monkeypatch, oracle_cases
    ):
        """The removals, the changed subtree roots, both manifest merges
        and the tileset levels come from one kernel each on both plans:
        their counts agree on the split case, which removes files."""
        import shutil

        from i3dm_export_spark.operators import tiling

        base_out, batch, _full, opts = oracle_cases["split"]
        keys = ("n_removed_files", "n_dirty_subtrees", "n_content_tiles",
                "n_subtree_files", "available_levels")
        got = {}
        for plan, budget in (("driver", tiling._MAX_DRIVER_CELLS),
                             ("spark", 0)):
            monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", budget)
            out = str(tmp_path / plan)
            shutil.copytree(base_out, out)
            s = incremental_append(batch, out, opts=opts)
            got[plan] = {k: s[k] for k in keys}
        assert got["driver"]["n_removed_files"] > 0
        assert got["driver"] == got["spark"]


def _kernel_frames(empty):
    """Old and new stage-2 rows (subtree_levels 2) for the kernel parity
    test: the level-1 tile (1, 0, 0) splits — it flips out of content —
    and its four children appear at level 2, a subtree-boundary level, so
    each feeds its own root and the parent root (0, 0, 0)."""
    import pandas as pd

    def rows(tiles, old):
        return [(lv, x, y, c, n, old) for lv, x, y, c, n in tiles]

    old = [(0, 0, 0, False, 100), (1, 0, 0, True, 50), (1, 1, 0, True, 50),
           (1, 0, 1, False, 0), (1, 1, 1, False, 0)]
    new = [(0, 0, 0, False, 130), (1, 0, 0, False, 80), (1, 1, 0, True, 50),
           (1, 0, 1, False, 0), (1, 1, 1, False, 0),
           (2, 0, 0, True, 40), (2, 1, 0, True, 40), (2, 0, 1, False, 0),
           (2, 1, 1, False, 0)]
    tiles = pd.DataFrame(
        rows(old, True) + rows(new, False),
        columns=["level", "x", "y", "content_available", "n_instances",
                 "old"],
    ).astype({"level": "int32"})
    manifest = pd.DataFrame({
        "relpath": [f"{lv}_{x}_{y}.i3dm" for lv, x, y, _c, _n in old],
        "n_bytes": range(len(old)), "content_md5": "0" * 32,
    })
    if empty:
        return tiles.iloc[:0], manifest.iloc[:0]
    return tiles, manifest


class TestKernelParity:
    """Each append bookkeeping kernel gives the same rows called on a
    pandas frame (the driver plan) as through ``packaging.map_kernel`` on
    a Spark frame of the same rows (the Spark plan), the way pyspark's own
    grouped-map tests compare ``apply`` with the pandas function."""

    @pytest.mark.parametrize("empty", [False, True])
    def test_same_rows_on_both_plans(self, spark, empty):
        import functools

        from i3dm_export_spark.packaging import map_kernel
        from i3dm_export_spark.plans import incremental as incr
        from i3dm_export_spark.plans.sinks import _MANIFEST_SCHEMA

        tiles, manifest = _kernel_frames(empty)
        diff_schema = ("level int, x bigint, y bigint, "
                       "was_content boolean, is_content boolean")
        cases = (
            (incr._tile_diff, tiles,
             "level int, x bigint, y bigint, content_available boolean, "
             "n_instances bigint, old boolean", diff_schema, incr.TILE_KEY),
            (functools.partial(incr._changed_roots, subtree_levels=2),
             incr._tile_diff(tiles), diff_schema,
             "root_level int, root_x bigint, root_y bigint", None),
            (functools.partial(incr._manifest_keep,
                               excluded=frozenset({"1_0_0.i3dm"})),
             manifest, _MANIFEST_SCHEMA, _MANIFEST_SCHEMA, None),
        )
        for kernel, pdf, in_schema, out_schema, by in cases:
            on_driver = map_kernel(kernel, pdf, out_schema, by=by)
            on_spark = map_kernel(
                kernel, spark.createDataFrame(pdf, in_schema).repartition(3),
                out_schema, by=by,
            ).toPandas()
            assert list(on_spark.columns) == list(on_driver.columns)
            rows = sorted(on_driver.itertuples(index=False, name=None))
            assert len(set(rows)) == len(rows)
            # the roots kernel is distinct within its input: the Spark
            # plan's partitions may repeat a root, so compare as sets
            assert rows == sorted(
                set(on_spark.itertuples(index=False, name=None)))
            assert len(rows) == 0 if empty else len(rows) > 0

        if not empty:
            diff = incr._tile_diff(tiles)
            flipped = diff.loc[diff["was_content"] != diff["is_content"]]
            assert sorted(zip(flipped["level"], flipped["x"], flipped["y"])) \
                == [(1, 0, 0), (2, 0, 0), (2, 1, 0)]
            roots = incr._changed_roots(diff, 2)
            assert sorted(roots.itertuples(index=False, name=None)) == [
                (0, 0, 0), (2, 0, 0), (2, 0, 1), (2, 1, 0), (2, 1, 1)]


@pytest.fixture(scope="module")
def overflow_case(spark, oracle_cases, tmp_path_factory):
    """The localized base, a batch of ``max_features_per_tile + 1`` copies
    of one point (its deep cell overflows at the persisted resolution),
    a 3-copy batch that follows it, and the from-scratch union exports
    after each."""
    root = tmp_path_factory.mktemp("overflow")
    base_out, _batch, _full, opts = oracle_cases["localized"]
    base = pages_df(spark, 900)
    over = copies_in_smallest_tile(
        spark, base, base_out, k=opts.max_features_per_tile + 1
    ).localCheckpoint()
    full1 = str(root / "full1")
    run_export(base.unionByName(over), opts, full1, bounds=BB)
    # the union export's stage 3 has the appended export's tile url sets
    follow = copies_in_smallest_tile(
        spark, base.unionByName(over), full1
    ).localCheckpoint()
    full2 = str(root / "full2")
    run_export(base.unionByName(over).unionByName(follow), opts, full2,
               bounds=BB)
    return base_out, over, full1, follow, full2, opts


def _digests(out):
    """sha256 per file of the export's outputs, sink manifests and stage
    done markers."""
    import glob
    import hashlib

    ckpt = os.path.join(out, "_checkpoints")
    paths = [os.path.join(out, "tileset.json")]
    for d in (os.path.join(out, "content"), os.path.join(out, "subtrees"),
              os.path.join(ckpt, "_sink_manifests", "content"),
              os.path.join(ckpt, "_sink_manifests", "subtrees")):
        paths += [os.path.join(d, f) for f in os.listdir(d)]
    paths += glob.glob(os.path.join(ckpt, "_lineage", "*.done.json"))
    out_map = {}
    for p in sorted(paths):
        with open(p, "rb") as f:
            out_map[os.path.relpath(p, out)] = hashlib.sha256(
                f.read()).hexdigest()
    return out_map


class TestCountsRecount:
    """The append's one fork: the tree's counts are merged from the
    persisted ones, or recounted from stage 0 when a merged cell
    overflows below ``max_level``. Either way the bytes equal the
    from-scratch union export, on the driver plan and on the Spark plan
    (``tiling._MAX_DRIVER_CELLS = 0``)."""

    @pytest.mark.parametrize("twin", ["driver", "spark"])
    def test_overflow_recounts_then_merges(
        self, spark, tmp_path, monkeypatch, overflow_case, twin
    ):
        import shutil

        from i3dm_export_spark.operators import tiling

        if twin == "spark":
            monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", 0)
        base_out, over, full1, follow, full2, opts = overflow_case
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)

        s1 = incremental_append(over, out, opts=opts)
        assert s1["counts_recounted"] is True
        assert _tree_files(out) == _tree_files(full1)

        s2 = incremental_append(follow, out, opts=opts)
        assert s2["counts_recounted"] is False
        assert _tree_files(out) == _tree_files(full2)

    @pytest.mark.parametrize("plan", ["driver", "spark_batch"])
    def test_recount_dirty_set_uses_the_recount_level(
        self, spark, tmp_path, monkeypatch, overflow_case, plan
    ):
        """A recount deepens the tree's deep level, so the dirty set must
        match the batch's cells counted at that level: a batch that
        overflows one cell and also enters another content tile
        re-encodes that tile too."""
        import shutil

        from i3dm_export_spark.plans import incremental as incr

        if plan == "spark_batch":
            monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", 0)
        base_out, over, _full1, _follow, _full2, opts = overflow_case
        base = pages_df(spark, 900)
        batch = over.unionByName(copies_in_smallest_tile(
            spark, base, base_out, k=2, rank=1)).localCheckpoint()
        full = str(tmp_path / "full")
        run_export(base.unionByName(batch), opts, full, bounds=BB)
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)
        s = incremental_append(batch, out, opts=opts)
        assert s["counts_recounted"] is True
        assert s["batch_on_driver"] is (plan == "driver")
        assert _tree_files(out) == _tree_files(full)

    def test_flip_cap_raises_and_leaves_export_untouched(
        self, spark, tmp_path, monkeypatch, oracle_cases
    ):
        """A batch that flips more content tiles than the cap raises
        before anything visible changes: outputs, sink manifests and
        stage done markers keep their bytes (leftover ``._incr`` scratch
        directories are cleared by the next append or vacuum)."""
        import shutil

        from i3dm_export_spark.plans import incremental as incr

        monkeypatch.setattr(incr, "_MAX_FLIPPED_FOR_DELTA", 0)
        base_out, batch, _full, opts = oracle_cases["split"]
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)
        before = _digests(out)
        with pytest.raises(IncrementalRebuildRequired, match="run_export"):
            incremental_append(batch, out, opts=opts)
        assert _digests(out) == before


def _model_glbs():
    from i3dm_export_spark.functions import glbtools

    return {
        f"m{i}.glb": glbtools.write_glb(
            {"asset": {"version": "2.0"}, "nodes": [{"name": f"m{i}"}]})
        for i in range(3)
    }


def _rich_split(spark, n_total, n_base, snu=False):
    """``_split`` over pages with three models, per-row tags and yaw, and
    (``snu``) a per-axis ``scale_non_uniform``: every column an encoder
    branch reads varies across the members of a tile."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64("url"), F.lit(97))
    full = (
        pages_df(spark, n_total)
        .withColumn("model", F.format_string("m%d.glb", F.pmod(h, F.lit(3))))
        .withColumn("tags", F.format_string('[{"lang":"%s"},{"n":"%d"}]',
                                            "lang", h))
        .withColumn("yaw", h.cast("double") * 3.5)
    )
    if snu:
        full = full.withColumn("scale_non_uniform", F.array(
            h.cast("double"), F.lit(2.0), F.col("scale")))
    urls = sorted(r["url"] for r in full.select("url").collect())
    cut = urls[n_base]
    return full.filter(f"url < '{cut}'"), full.filter(f"url >= '{cut}'"), full


#: name -> (opts, rich source?, scale_non_uniform?, model_glbs?, driver
#: plan under the default budget?, (n_total, n_base))
_PLAN_CASES = {
    "cmpt_models": (ExportOptions(max_features_per_tile=60, max_level=8),
                    True, False, True, True, (900, 750)),
    "keep_projection": (ExportOptions(max_features_per_tile=60, max_level=8,
                                      use_i3dm=True, keep_projection=True),
                        True, False, False, True, (900, 750)),
    "scale_non_uniform": (ExportOptions(max_features_per_tile=60,
                                        max_level=8, use_i3dm=True,
                                        use_scale_non_uniform=True),
                          True, True, False, True, (900, 750)),
    "external_model": (ExportOptions(max_features_per_tile=60, max_level=8,
                                     use_external_model=True),
                       True, False, False, True, (900, 750)),
    "gpu_glb": (ExportOptions(max_features_per_tile=60, max_level=8,
                              use_gpu_instancing=True),
                True, False, False, True, (600, 520)),
    # no tile over skew_salt_threshold * k: warm tiles reduce on the driver
    "clustered_warm": (ExportOptions(max_features_per_tile=40, max_level=8,
                                     use_i3dm=True, use_clustering=True,
                                     skew_salt_threshold=100.0),
                       False, False, False, True, (700, 600)),
    # the 700-row root is over 8 * 40: a hot dirty tile takes the Spark plan
    "clustered_hot": (_CLUSTER_OPTS, False, False, False, False, (700, 600)),
}


@pytest.fixture(scope="module")
def plan_case_exports(spark, tmp_path_factory):
    """Lazily built per case: (base export dir, batch, from-scratch union
    export dir)."""
    built = {}

    def get(name):
        if name not in built:
            opts, rich, snu, glbs, _drv, (n_total, n_base) = _PLAN_CASES[name]
            if rich:
                base, batch, full = _rich_split(spark, n_total, n_base, snu)
            else:
                base, batch, full = _split(spark, n_total, n_base)
            models = _model_glbs() if glbs else None
            root = tmp_path_factory.mktemp(f"plan_{name}")
            base_out, full_out = str(root / "base"), str(root / "full")
            run_export(base, opts, base_out, bounds=BB, model_glbs=models)
            run_export(full, opts, full_out, bounds=BB, model_glbs=models)
            built[name] = (base_out, batch, full_out)
        return built[name]

    return get


class TestReencodePlans:
    """The append re-encodes its dirty tiles on the driver (pyarrow fetch,
    in-process reduce + encode, driver sink) while the tile table is on
    the driver, the dirty member rows fit ``_MAX_DRIVER_MEMBER_ROWS`` and
    no dirty tile is hot; otherwise on Spark. Both plans must produce the
    from-scratch union export's bytes for every encoder branch; the Spark
    plan is forced with the budget at 0. Both run with the batch on the
    driver; ``spark_batch`` runs the driver re-encode after a batch kept
    in Spark (``_MAX_DRIVER_BATCH_ROWS = 0``), so the stage-0 and stage-3
    files it reads were written by Spark."""

    @pytest.mark.parametrize("plan", ["driver", "spark", "spark_batch"])
    @pytest.mark.parametrize("case", list(_PLAN_CASES))
    def test_byte_parity(self, spark, tmp_path, monkeypatch,
                         plan_case_exports, case, plan):
        import shutil

        import pandas as pd

        from i3dm_export_spark.plans import incremental as incr

        if plan == "spark":
            monkeypatch.setattr(incr, "_MAX_DRIVER_MEMBER_ROWS", 0)
        if plan == "spark_batch":
            monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", 0)
        opts, _rich, _snu, glbs, driver_ok, _sizes = _PLAN_CASES[case]
        base_out, batch, full_out = plan_case_exports(case)
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)

        # clustered_hot also stands for the former clustered parity and
        # clustered delta tests (same opts and split): its append reads
        # the recorded opts, as theirs did
        s = incremental_append(
            batch, out, opts=None if case == "clustered_hot" else opts,
            model_glbs=_model_glbs() if glbs else None)

        assert s["counts_recounted"] is False
        assert s["batch_on_driver"] is (plan != "spark_batch")
        assert s["reencode_on_driver"] is (plan != "spark" and driver_ok)
        assert s["n_dirty_tiles"] > 0
        tiles = pd.read_parquet(
            os.path.join(out, "_checkpoints", "stage2_tiles"))
        rewritten = pd.read_parquet(os.path.join(
            out, "_checkpoints", "_sink_manifests", "_content_incr"))
        n_by_file = {
            f"{lv}_{x}_{y}.{opts.content_extension}": n
            for lv, x, y, n in zip(tiles["level"], tiles["x"], tiles["y"],
                                   tiles["n_instances"])
        }
        n_rewritten = [n_by_file[r] for r in rewritten["relpath"]]
        assert s["n_dirty_member_rows"] == sum(n_rewritten)
        k, t = opts.max_features_per_tile, opts.skew_salt_threshold
        if case == "clustered_warm":
            assert any(k < n <= t * k for n in n_rewritten)
        if case == "clustered_hot":
            assert any(n > t * k for n in n_rewritten)
        assert _tree_files(out) == _tree_files(full_out)

    def test_stage3_missing_a_dirty_row_raises(
        self, spark, tmp_path, monkeypatch, oracle_cases
    ):
        """The driver plan checks the fetched member rows against the tile
        table: a stage 3 short of one dirty-tile row raises before any
        content file or manifest changes."""
        import shutil

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from i3dm_export_spark.plans import incremental as incr

        base_out, batch, _full, opts = oracle_cases["localized"]
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)
        refresh = incr._delta_refresh

        def drop_one_dirty_row(*args, **kwargs):
            delta = refresh(*args, **kwargs)
            lv, x, y = delta["dirty_keys"][0]
            for name in sorted(os.listdir(delta["tmp3"])):
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(delta["tmp3"], name)
                t = pq.read_table(path)
                hit = pc.and_(pc.and_(pc.equal(t["level"], lv),
                                      pc.equal(t["x"], x)),
                              pc.equal(t["y"], y)).to_numpy(
                                  zero_copy_only=False)
                if hit.any():
                    keep = [True] * len(hit)
                    keep[int(hit.argmax())] = False  # the tile's first row
                    os.remove(path)  # a hard link: leave the base file
                    pq.write_table(t.filter(keep), path)
                    return delta
            raise AssertionError("no stage-3 row of the dirty tile")

        monkeypatch.setattr(incr, "_delta_refresh", drop_one_dirty_row)
        before = _digests(out)
        with pytest.raises(IncrementalRebuildRequired, match="stage 3"):
            incremental_append(batch, out, opts=opts)
        assert _digests(out) == before


def _spy_batch_plan(monkeypatch):
    """Record what ``_collect_batch`` returns: a table on the driver plan,
    None on the Spark plan."""
    from i3dm_export_spark.plans import incremental as incr

    seen = []
    real = incr._collect_batch

    def spy(*args):
        seen.append(real(*args))
        return seen[-1]

    monkeypatch.setattr(incr, "_collect_batch", spy)
    return seen


@pytest.fixture(scope="module")
def guard_bases(spark, tmp_path_factory):
    """name -> (base export dir, base, batch): a base with pinned bounds,
    and one with bounds computed from its data and an interior batch."""
    root = tmp_path_factory.mktemp("guards")
    base, batch, _ = _split(spark, 500, 450)
    pinned = str(root / "pinned")
    run_export(base, OPTS, pinned, bounds=BB)
    ibase, ibatch, _ = TestIncrementalGuards._interior_split(spark)
    computed = str(root / "computed")
    run_export(ibase, OPTS, computed)
    return {"pinned": (pinned, base, batch),
            "computed": (computed, ibase, ibatch)}


def _strip_stage3_statistics(out):
    """Rewrite every stage-3 file of ``out`` without column statistics
    (Spark's schema key stays in the footer)."""
    import pyarrow.parquet as pq

    stage3 = os.path.join(out, "_checkpoints", "stage3_assigned")
    for name in os.listdir(stage3):
        if name.endswith(".parquet"):
            path = os.path.join(stage3, name)
            t = pq.read_table(path)
            os.remove(path)  # may be a hard link
            pq.write_table(t, path, write_statistics=False)
            crc = os.path.join(stage3, f".{name}.crc")  # Spark's checksum
            if os.path.exists(crc):
                os.remove(crc)


class TestBatchPlans:
    """Within ``_MAX_DRIVER_BATCH_ROWS`` the append collects its batch once
    and runs the guards, counts, stage-0 and stage-3 writes on the driver;
    at 0 (or with a null or NaN coordinate) the Spark batch plan runs.
    Every guard stays loud on both."""

    @pytest.mark.parametrize("plan", ["driver", "spark"])
    @pytest.mark.parametrize("case", ["out_of_bounds", "z_range",
                                      "duplicate_url", "duplicate_url_nostats",
                                      "empty"])
    def test_guards_on_both_batch_plans(self, spark, tmp_path, monkeypatch,
                                        guard_bases, case, plan):
        import shutil

        from pyspark.sql import functions as F

        from i3dm_export_spark.plans import incremental as incr

        if plan == "spark":
            monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", 0)
        seen = _spy_batch_plan(monkeypatch)
        base_out, base, batch = guard_bases[
            "computed" if case == "z_range" else "pinned"]
        out = str(tmp_path / "o")
        shutil.copytree(base_out, out)
        if case == "duplicate_url_nostats":
            _strip_stage3_statistics(out)
        rogue, match = {
            "out_of_bounds": (batch.withColumn(
                "lon", batch["lon"] + (BB.xmax - BB.xmin + 1.0)), "outside"),
            "z_range": (batch.withColumn("z", F.lit(25.0)), "z-range"),
            "duplicate_url": (base.limit(5).unionByName(batch),
                              "already exist"),
            "duplicate_url_nostats": (base.limit(5).unionByName(batch),
                                      "already exist"),
            "empty": (base.filter("url > 'z'"), None),
        }[case]
        if match is None:
            s = incremental_append(rogue, out)
            assert s["n_new_instances"] == s["n_dirty_tiles"] == 0
            assert s["batch_on_driver"] is (plan == "driver")
        else:
            with pytest.raises(IncrementalRebuildRequired, match=match):
                incremental_append(rogue, out)
        assert (seen[0] is not None) is (plan == "driver")

    def test_url_guard_prunes_by_footer(self, guard_bases, tmp_path,
                                        monkeypatch):
        """The driver url guard reads exactly the row groups whose url
        min/max brackets a batch url, plus every row group without
        statistics, and counts exactly the stage-3 rows with a batch url
        (a null url matches nothing); beyond the budget it hands over to
        the semi-join."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from i3dm_export_spark.plans import incremental as incr

        pinned, _base, _batch = guard_bases["pinned"]
        t = pq.read_table(os.path.join(
            pinned, "_checkpoints", "stage3_assigned")).sort_by("url")
        half = t.num_rows // 2
        stage3 = str(tmp_path / "stage3")
        os.makedirs(stage3)
        with_stats = os.path.join(stage3, "part-00000.parquet")
        pq.write_table(t.slice(0, half), with_stats, row_group_size=40)
        pq.write_table(t.slice(half), os.path.join(stage3,
                                                   "part-00001.parquet"),
                       write_statistics=False)
        urls = t.column("url").to_pylist()
        # inside row group 0, bracketed by row group 1 but absent, the max
        # of row group 2 (its only probe), in the file without statistics,
        # beyond every row group
        probe = [urls[3], urls[50] + "~", urls[119], urls[-1], "~~~~"]
        assert urls[50] + "~" < urls[51]
        md = pq.read_metadata(with_stats)
        iurl = md.schema.names.index("url")
        n_cand = t.num_rows - half + sum(
            md.row_group(i).num_rows for i in range(md.num_row_groups)
            if any(md.row_group(i).column(iurl).statistics.min <= u
                   <= md.row_group(i).column(iurl).statistics.max
                   for u in probe))
        assert n_cand < t.num_rows  # some row group was pruned
        batch_urls = pa.chunked_array([probe + [None]], pa.string())
        want = sum(u in set(probe) for u in urls)
        assert want == 3
        monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", n_cand)
        assert incr._url_overlap_driver(stage3, batch_urls) == want
        monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", n_cand - 1)
        assert incr._url_overlap_driver(stage3, batch_urls) is None

    def test_driver_written_files_match_spark_written(self, spark, tmp_path,
                                                      oracle_cases):
        """Every file the driver writes carries the Arrow schema and footer
        Spark schema of the Spark-written files of its table: the stage-0
        batch file and the stage-3 delta files (with lon/lat, stage 3 also
        level/x/y, statistics in every row group: the next append prunes
        on them, and serve), the stage-2 tiles and cell counts (against
        the base export's), and both merged sink manifests (against the
        base export's content manifest, which the executor sink wrote)."""
        import shutil

        import pyarrow.parquet as pq

        from i3dm_export_spark.plans.checkpoint import _SPARK_SCHEMA_KEY

        base_out, batch, _full, opts = oracle_cases["split"]
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)
        s = incremental_append(batch, out, opts=opts)
        assert s["batch_on_driver"] is True
        assert s["n_stage3_rewritten_files"] > 0  # a flip: dirty files read

        def parquet(d, prefix):
            return sorted(os.path.join(d, n) for n in os.listdir(d)
                          if n.startswith(prefix) and n.endswith(".parquet"))

        for table, prefix, stat_cols, ref_table in (
                ("stage0_instances", "batch-", ("lon", "lat"), None),
                ("stage3_assigned", "delta-",
                 ("level", "x", "y", "lon", "lat"), None),
                ("stage2_tiles", "part-", ("level", "x", "y"), None),
                ("stage2_cellcounts", "part-", ("cell_x", "cell_y"), None),
                ("_sink_manifests/content", "part-", (), None),
                ("_sink_manifests/subtrees", "part-", (),
                 "_sink_manifests/content")):
            ref = pq.read_schema(parquet(os.path.join(
                base_out, "_checkpoints", ref_table or table), "part-")[0])
            driver = parquet(os.path.join(out, "_checkpoints", table), prefix)
            assert driver, table
            for path in driver:
                name = os.path.basename(path)
                assert "part-" in name and name.endswith(".snappy.parquet")
                got = pq.read_schema(path)
                assert got.remove_metadata() == ref.remove_metadata(), name
                # the same Spark schema; pyspark's JSON sorts its keys
                assert (json.loads(got.metadata[_SPARK_SCHEMA_KEY])
                        == json.loads(ref.metadata[_SPARK_SCHEMA_KEY])), name
                md = pq.read_metadata(path)
                for i in range(md.num_row_groups):
                    for c in stat_cols:
                        st = md.row_group(i).column(
                            md.schema.names.index(c)).statistics
                        assert st is not None and st.has_min_max, (name, c)

    @pytest.mark.parametrize("spark_step", ["stage3_rows", "url_guard"])
    def test_batch_source_evaluated_once(self, spark, tmp_path, monkeypatch,
                                         oracle_cases, spark_step):
        """After the collect, the Spark steps read the collected rows, not
        the batch's source: a counting UDF on the source runs once per
        batch row when the stage-3 rows overflow the batch budget (the
        dirty files' rows come on top of the batch's) and when the url
        guard hands over to its semi-join; the bytes still equal the
        from-scratch union export's."""
        import shutil

        from pyspark.sql import functions as F

        from i3dm_export_spark.plans import incremental as incr

        base_out, batch, full, opts = oracle_cases["split"]
        n_batch = batch.count()
        if spark_step == "stage3_rows":
            monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", n_batch)
        else:
            monkeypatch.setattr(incr, "_url_overlap_driver",
                                lambda *_a: None)
        evaluations = spark.sparkContext.accumulator(0)

        @F.udf("string")
        def counted(url):
            evaluations.add(1)
            return url

        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)
        s = incremental_append(batch.withColumn("url", counted("url")), out,
                               opts=opts)
        assert s["batch_on_driver"] is True
        assert s["n_new_instances"] == n_batch
        assert evaluations.value == n_batch
        assert _tree_files(out) == _tree_files(full)


    @pytest.mark.parametrize("plan", ["driver", "spark"])
    def test_query_filtered_batch(self, spark, tmp_path, monkeypatch, plan):
        """``opts.query`` filters the batch before any guard: rows it drops
        may lie outside the root bounds, and the append equals the
        from-scratch union export under the same query."""
        from pyspark.sql import functions as F

        from i3dm_export_spark.plans import incremental as incr

        if plan == "spark":
            monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", 0)
        opts = ExportOptions(max_features_per_tile=60, max_level=8,
                             use_i3dm=True, query="lang <> 'nl'")
        base, batch, _ = _split(spark, 900, 750)
        rogue = batch.filter("lang = 'nl'").withColumn(
            "lon", F.col("lon") + (BB.xmax - BB.xmin + 1.0))
        batch = batch.filter("lang <> 'nl'").unionByName(rogue)
        out_full = str(tmp_path / "full")
        run_export(base.unionByName(batch), opts, out_full, bounds=BB)
        out = str(tmp_path / "incr")
        run_export(base, opts, out, bounds=BB)
        s = incremental_append(batch, out, opts=opts)
        assert s["batch_on_driver"] is (plan == "driver")
        assert s["n_new_instances"] == batch.filter("lang <> 'nl'").count()
        assert rogue.count() > 0
        assert _tree_files(out) == _tree_files(out_full)

    def test_nan_lon_batch_takes_the_spark_plan(self, spark, tmp_path,
                                                monkeypatch):
        """Spark's max(lon) over a NaN is NaN, which no bounds test
        rejects; numpy's would differ, so such a batch takes the Spark
        plan and appends as it always has: byte parity with the
        from-scratch union export."""
        from pyspark.sql import functions as F

        base, batch, _ = _split(spark, 900, 750)
        first = batch.agg(F.min("url")).collect()[0][0]
        batch = batch.withColumn("lon", F.when(
            F.col("url") == first, F.lit(float("nan"))
        ).otherwise(F.col("lon")))
        out_full = str(tmp_path / "full")
        run_export(base.unionByName(batch), OPTS, out_full, bounds=BB)
        out = str(tmp_path / "incr")
        run_export(base, OPTS, out, bounds=BB)
        seen = _spy_batch_plan(monkeypatch)
        s = incremental_append(batch, out)
        assert seen == [None] and s["batch_on_driver"] is False
        assert _tree_files(out) == _tree_files(out_full)


class TestSwapCrash:
    """A crash at the move-in of a directory swap (``os.replace`` of the
    refreshed copy fails) leaves the live data whole under ``<dir>.old``;
    the next ``checkpoint.replace_dir`` puts it back and completes the
    swap, leaving neither the aside nor the copy behind."""

    @pytest.mark.parametrize("target", ["stage3_assigned",
                                        "_sink_manifests/content"])
    def test_crash_at_move_in(self, tmp_path, monkeypatch, oracle_cases,
                              target):
        import shutil

        from i3dm_export_spark.plans import checkpoint

        base_out, batch, _full, opts = oracle_cases["split"]
        out = str(tmp_path / "incr")
        shutil.copytree(base_out, out)
        final = os.path.join(out, "_checkpoints", target)

        def contents(d):
            files = {}
            for name in sorted(os.listdir(d)):
                with open(os.path.join(d, name), "rb") as f:
                    files[name] = f.read()
            return files

        live = contents(final)
        tmp = final + "._incr"
        real_replace = os.replace

        def crash_on_move_in(src, dst):
            if src == tmp:
                raise OSError("injected crash")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", crash_on_move_in)
        with pytest.raises(OSError, match="injected crash"):
            incremental_append(batch, out, opts=opts)
        monkeypatch.undo()
        assert not os.path.exists(final)
        assert contents(final + ".old") == live
        refreshed = contents(tmp)

        checkpoint.replace_dir(tmp, final)
        assert contents(final) == refreshed
        parent, name = os.path.split(final)
        assert not [n for n in os.listdir(parent)
                    if n in (name + ".old", name + "._incr")]
