"""Serving-path bbox queries (plans/serve) against a finished export.

Correctness model: brute force over the same artifacts — a tile belongs in
the answer iff its cell rectangle intersects the bbox; an instance iff its
lon/lat is inside. The operators must agree with the model exactly, answer
from manifests/checkpoints only (no re-tiling), and the instance path must
push its lon/lat predicates into the parquet scan. ``query_bbox_summary``
finds tiles on the driver under the tile budget; with the budget at 0 it
takes the Spark ``tiles_in_bbox`` twin, and both must answer identically.
Its instance count walks the stage-3 footers on the driver under the
boundary-row budget and must equal ``instances_in_bbox(...).count()``.
"""
from __future__ import annotations

import json
import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from i3dm_export_spark.config import Bounds, ExportOptions
from i3dm_export_spark import session
from i3dm_export_spark.plans import checkpoint, serve
from i3dm_export_spark.plans.checkpoint import _parquet_paths, read_parquet
from i3dm_export_spark.plans.incremental import incremental_append
from i3dm_export_spark.plans.pipeline import run_export
from i3dm_export_spark.plans.serve import (
    ServingStateMissing,
    bbox_tile_range,
    instances_in_bbox,
    query_bbox_summary,
    tiles_in_bbox,
)
from i3dm_export_spark.sources.pages import DOCS_BBOX, pages_df

from .test_checkpoint import _count_jobs
from .test_incremental import _split

BB = Bounds(*DOCS_BBOX)
BOX = (BB.xmin, BB.ymin, BB.xmax, BB.ymax)
OPTS = ExportOptions(max_features_per_tile=60, max_level=8, use_i3dm=True)
# interior sub-box of DOCS_BBOX (34.0..34.1 lon, 44.0..44.1 lat)
# corners deliberately OFF every cell boundary (34.05 is the
# midpoint = a boundary at every level >= 1; an edge exactly on a
# boundary is float-ambiguous between the geometric model and the
# floor/clamp kernel)
QBOX = (34.021, 44.032, 34.047, 44.063)


@pytest.fixture(scope="module")
def export_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("serve") / "out")
    run_export(pages_df(spark, 900), OPTS, out, bounds=BB)
    return out


@pytest.fixture(scope="module")
def appended_dir(spark, tmp_path_factory):
    """An export whose content manifest and stage-3 delta files the
    append wrote on the driver."""
    out = str(tmp_path_factory.mktemp("serve_append") / "out")
    base, batch, _full = _split(spark, 900, 750)
    run_export(base, OPTS, out, bounds=BB)
    s = incremental_append(batch, out)
    assert s["counts_recounted"] is False and s["batch_on_driver"] is True
    return out


@pytest.fixture(scope="module")
def clustered_dir(spark, tmp_path_factory):
    """An export whose stage 3 holds a point once per content tile over it."""
    out = str(tmp_path_factory.mktemp("serve_clustered") / "out")
    run_export(pages_df(spark, 900),
               ExportOptions(max_features_per_tile=60, max_level=8,
                             use_i3dm=True, use_clustering=True),
               out, bounds=BB)
    return out


def _content_manifest(out_dir):
    return os.path.join(out_dir, "_checkpoints", "_sink_manifests", "content")


def _cell_rect(bounds, level, x, y):
    xmin, ymin, xmax, ymax = bounds[0], bounds[1], bounds[2], bounds[3]
    n = 1 << level
    tw, th = (xmax - xmin) / n, (ymax - ymin) / n
    return (xmin + x * tw, ymin + y * th, xmin + (x + 1) * tw,
            ymin + (y + 1) * th)


class TestServe:
    def test_tiles_match_brute_force_intersection(self, spark, export_dir):
        got = {
            (r["level"], r["x"], r["y"]): r["relpath"]
            for r in tiles_in_bbox(spark, export_dir, QBOX).collect()
        }
        # model: every manifest tile whose rectangle intersects QBOX
        content = os.path.join(export_dir, "content")
        expect = {}
        for fn in os.listdir(content):
            lv, x, y = (int(v) for v in fn.split(".")[0].split("_"))
            rx0, ry0, rx1, ry1 = _cell_rect(BOX, lv, x, y)
            if not (rx1 < QBOX[0] or rx0 > QBOX[2]
                    or ry1 < QBOX[1] or ry0 > QBOX[3]):
                expect[(lv, x, y)] = fn
        assert got == expect
        assert 0 < len(got) < len(os.listdir(content))  # real subset

    def test_instances_match_brute_force_filter(self, spark, export_dir):
        got = sorted(
            r["url"] for r in
            instances_in_bbox(spark, export_dir, QBOX).collect()
        )
        assigned = spark.read.parquet(
            os.path.join(export_dir, "_checkpoints", "stage3_assigned"))
        expect = sorted(
            r["url"] for r in assigned.collect()
            if QBOX[0] <= r["lon"] <= QBOX[2]
            and QBOX[1] <= r["lat"] <= QBOX[3]
        )
        assert got == expect and 0 < len(got) < assigned.count()

    def test_instance_filter_pushes_down(self, spark, export_dir):
        plan = instances_in_bbox(spark, export_dir, QBOX)._jdf \
            .queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        pushed = plan.split("PushedFilters")[1][:400]
        # Spark truncates the rendered filter list, so assert on the
        # leading predicates only
        assert "GreaterThanOrEqual(lon" in pushed
        assert "LessThanOrEqual(lon" in pushed

    def test_degenerate_and_full_bbox(self, spark, export_dir):
        full = tiles_in_bbox(spark, export_dir, BOX).count()
        assert full == len(os.listdir(os.path.join(export_dir, "content")))
        outside = tiles_in_bbox(
            spark, export_dir, (0.0, 0.0, 1.0, 1.0))
        # edge clamping maps an outside bbox onto edge cells (same
        # convention as tile_xy) — it must not error; instances are empty
        assert outside.count() >= 0
        assert instances_in_bbox(
            spark, export_dir, (0.0, 0.0, 1.0, 1.0)).count() == 0

    def test_bbox_tile_range_closed_form(self):
        # level 1 over DOCS_BBOX: mid-split at (34.05, 44.05)
        assert bbox_tile_range(BOX, (34.0, 44.0, 34.04, 44.04), 1) \
            == (0, 0, 0, 0)
        assert bbox_tile_range(BOX, (34.06, 44.06, 34.09, 44.09), 1) \
            == (1, 1, 1, 1)
        assert bbox_tile_range(BOX, QBOX, 0) == (0, 0, 0, 0)

    def test_cli_query_bbox(self, spark, export_dir, capsys):
        from i3dm_export_spark.__main__ import main

        rep = main(["--query_bbox", "34.021,44.032,34.047,44.063",
                    "-o", export_dir], spark=spark)
        assert rep["n_tiles"] > 0 and rep["n_instances"] > 0
        assert json.loads(capsys.readouterr().out.strip())["n_tiles"] \
            == rep["n_tiles"]
        with pytest.raises(SystemExit, match="query_bbox"):
            main(["--query_bbox", "1,2,3", "-o", export_dir], spark=spark)

    def test_cli_query_bbox_starts_no_session_on_the_driver(
            self, spark, export_dir, monkeypatch):
        from i3dm_export_spark.__main__ import main

        class SessionStarted(Exception):
            pass

        def refuse(*args, **kwargs):
            raise SessionStarted

        monkeypatch.setattr(session, "get_spark", refuse)
        argv = ["--query_bbox", "34.021,44.032,34.047,44.063", "-o", export_dir]
        assert main(argv) == main(argv, spark=spark)
        # a side sent to Spark asks for a session
        monkeypatch.setattr(serve, "_MAX_DRIVER_BBOX_ROWS", 0)
        with pytest.raises(SessionStarted):
            main(argv)


class TestServeRobustness:
    def test_missing_stage3_raises_clear_error(self, spark, export_dir,
                                               tmp_path):
        """VERDICT r4 #7: instances_in_bbox hard-depends on the
        stage3_assigned checkpoint; a vacuumed/missing checkpoint must be
        a clear ServingStateMissing, not a PATH_NOT_FOUND stack."""
        import shutil

        from i3dm_export_spark.plans.serve import ServingStateMissing

        clone = str(tmp_path / "clone")
        shutil.copytree(export_dir, clone)
        shutil.rmtree(os.path.join(clone, "_checkpoints", "stage3_assigned"))
        with pytest.raises(ServingStateMissing, match="stage3_assigned"):
            instances_in_bbox(spark, clone, QBOX).count()
        # the driver count raises the same error: no Spark fallback, no 0
        with pytest.raises(ServingStateMissing, match="stage3_assigned"):
            query_bbox_summary(spark, clone, QBOX)
        # tiles_in_bbox still answers (manifests survive)
        assert tiles_in_bbox(spark, clone, QBOX).count() > 0

    def test_missing_meta_raises_clear_error(self, spark, tmp_path):
        from i3dm_export_spark.plans.serve import ServingStateMissing

        with pytest.raises(ServingStateMissing, match="_export_meta"):
            tiles_in_bbox(spark, str(tmp_path), QBOX).count()

    def test_level_filter(self, spark, export_dir):
        """Per-LOD serving: level=k returns exactly the level-k slice of
        the unfiltered answer."""
        full = tiles_in_bbox(spark, export_dir, QBOX).collect()
        by_level = {}
        for r in full:
            by_level.setdefault(r["level"], set()).add((r["x"], r["y"]))
        assert len(by_level) > 1, "need multiple levels for a real test"
        for lvl, want in by_level.items():
            got = {
                (r["x"], r["y"])
                for r in tiles_in_bbox(spark, export_dir, QBOX,
                                       level=lvl).collect()
            }
            assert got == want
        # a level with no tiles answers empty, not an error
        assert tiles_in_bbox(spark, export_dir, QBOX, level=0).count() in (0, 1)


#: (bbox, max_listed): a sub-box, the whole extent, a box outside it, and
#: a listing cut below the box's tile count
PARITY_CASES = [
    (QBOX, 100),
    (BOX, 100),
    ((0.0, 0.0, 1.0, 1.0), 100),
    (BOX, 3),
]


class TestServeDriverTiles:
    """``query_bbox_summary``'s driver tile lookup against its Spark twin
    (``tiles_in_bbox``, taken when the manifest is over the tile budget)."""

    @pytest.mark.parametrize("which", ["export", "append"])
    def test_driver_matches_spark_twin(self, spark, export_dir,
                                       appended_dir, monkeypatch, which):
        out = export_dir if which == "export" else appended_dir
        driver = [query_bbox_summary(spark, out, bbox, max_listed=k)
                  for bbox, k in PARITY_CASES]
        monkeypatch.setattr(checkpoint, "_MAX_DRIVER_TILES", 0)
        twin = [query_bbox_summary(spark, out, bbox, max_listed=k)
                for bbox, k in PARITY_CASES]
        assert driver == twin
        qbox, full, outside, cut = driver
        assert 0 < qbox["n_tiles"] < full["n_tiles"]
        assert full["n_tiles"] == len(os.listdir(os.path.join(out, "content")))
        assert outside["n_instances"] == 0
        assert cut["tiles"] == full["tiles"][:3] and cut["n_tiles"] > 3

    def test_under_budget_launches_no_job(self, spark, appended_dir):
        query_bbox_summary(spark, appended_dir, QBOX)  # warm
        rep, n_jobs = _count_jobs(
            spark, lambda: query_bbox_summary(spark, appended_dir, QBOX))
        assert rep["n_tiles"] > 0 and rep["n_instances"] > 0
        assert n_jobs == 0

    def test_over_budget_counts_in_spark(self, spark, appended_dir,
                                         monkeypatch):
        driver = query_bbox_summary(spark, appended_dir, QBOX)
        monkeypatch.setattr(serve, "_MAX_DRIVER_BBOX_ROWS", 0)
        rep, n_jobs = _count_jobs(
            spark, lambda: query_bbox_summary(spark, appended_dir, QBOX))
        assert rep == driver
        assert 1 <= n_jobs <= 2

    def test_driver_written_manifest_reads_without_jobs(self, spark,
                                                        appended_dir):
        manifest = _content_manifest(appended_dir)
        df, n_jobs = _count_jobs(spark, lambda: read_parquet(spark, manifest))
        assert n_jobs == 0
        # the stored schema is the one Spark would infer
        assert df.schema == spark.read.parquet(manifest).schema

    def test_missing_meta_raises(self, spark, export_dir, tmp_path):
        clone = str(tmp_path / "clone")
        shutil.copytree(export_dir, clone)
        os.remove(os.path.join(clone, "_checkpoints", "_export_meta.json"))
        with pytest.raises(ServingStateMissing, match="_export_meta"):
            query_bbox_summary(spark, clone, QBOX)

    def test_missing_manifest_raises(self, spark, export_dir, tmp_path):
        clone = str(tmp_path / "clone")
        shutil.copytree(export_dir, clone)
        shutil.rmtree(_content_manifest(clone))
        with pytest.raises(ServingStateMissing, match="content sink manifest"):
            query_bbox_summary(spark, clone, QBOX)


def _stage3_dir(out_dir):
    return os.path.join(out_dir, "_checkpoints", "stage3_assigned")


def _rg_stats(meta, i):
    """(lon min, lat min, lon max, lat max) from row group ``i``'s footer."""
    names = meta.schema.names
    lon, lat = (meta.row_group(i).column(names.index(c)).statistics
                for c in ("lon", "lat"))
    return lon.min, lat.min, lon.max, lat.max


def _parity_boxes(out_dir):
    """PARITY_CASES' boxes plus edges on level-3 cell boundaries, edges
    equal to points' coordinates (closed interval) and one row group's
    footer min/max (the fully-inside shortcut at equality)."""
    pts = pq.read_table(_stage3_dir(out_dir), columns=["lon", "lat"])
    lon = sorted(pts["lon"].to_pylist())
    lat = sorted(pts["lat"].to_pylist())
    p = pts.slice(len(pts) // 2, 1).to_pylist()[0]
    lo, hi = _cell_rect(BOX, 3, 2, 3), _cell_rect(BOX, 3, 5, 4)
    fp = next(_parquet_paths(_stage3_dir(out_dir)))
    return [
        *dict.fromkeys(bbox for bbox, _k in PARITY_CASES),
        (lo[0], lo[1], hi[2], hi[3]),
        (p["lon"], p["lat"], p["lon"], p["lat"]),
        (lon[len(lon) // 4], lat[len(lat) // 4],
         lon[3 * len(lon) // 4], lat[3 * len(lat) // 4]),
        _rg_stats(pq.read_metadata(fp), 0),
    ]


class TestServeDriverCount:
    """``query_bbox_summary``'s footer-walk instance count against the
    Spark count ``instances_in_bbox(...).count()``."""

    @pytest.mark.parametrize("which", ["export", "append", "clustered"])
    def test_driver_count_matches_spark_count(self, spark, export_dir,
                                              appended_dir, clustered_dir,
                                              which):
        out = {"export": export_dir, "append": appended_dir,
               "clustered": clustered_dir}[which]
        boxes = _parity_boxes(out)
        stage3 = _stage3_dir(out)
        driver = [serve._count_in_bbox_driver(stage3, b) for b in boxes]
        twin = [instances_in_bbox(spark, out, b).count() for b in boxes]
        assert driver == twin
        qbox, full, outside, _cells, point, _quartiles, footer = driver
        assert 0 < qbox < full and outside == 0 and point >= 1
        # the footer box takes its row group whole, by the shortcut
        meta = pq.read_metadata(next(_parquet_paths(stage3)))
        assert serve._row_group_case(
            meta.row_group(0), meta.schema.names.index("lon"),
            meta.schema.names.index("lat"), boxes[-1]) == serve._INSIDE
        assert footer >= meta.row_group(0).num_rows
        if which == "clustered":
            # a point counts once per content tile it falls in
            urls = pq.read_table(stage3, columns=["url"])["url"]
            assert full == len(urls) > len(set(urls.to_pylist()))
        if which == "append":
            # driver-written delta files sit beside the hard-linked ones
            delta = [os.path.basename(fp).startswith("delta-")
                     for fp in _parquet_paths(stage3)]
            assert any(delta) and not all(delta)

    def test_footer_edge_cases(self, spark, tmp_path):
        """A NaN lon in a Spark-written row group (its footer max is NaN),
        a file written without statistics and an empty file: each is read
        or skipped as its footer allows, never counted whole."""
        root = str(tmp_path / "ck")
        stage3 = os.path.join(root, "stage3_assigned")
        spark.createDataFrame(
            [(1.0, 44.0), (float("nan"), 44.0), (2.0, 44.0)],
            "lon double, lat double").coalesce(1).write.parquet(stage3)
        schema = pa.schema([("lon", pa.float64()), ("lat", pa.float64())])
        pq.write_table(pa.table({"lon": [1.5, 5.0], "lat": [44.0, 44.0]},
                                schema=schema),
                       os.path.join(stage3, "part-90000-nostats.parquet"),
                       write_statistics=False)
        pq.write_table(schema.empty_table(),
                       os.path.join(stage3, "part-90001-empty.parquet"))
        nan_fp, nostats_fp, _empty = _parquet_paths(stage3)
        nan_meta, nostats_meta = map(pq.read_metadata, (nan_fp, nostats_fp))
        assert math.isnan(_rg_stats(nan_meta, 0)[2])
        for meta in (nan_meta, nostats_meta):
            assert serve._row_group_case(
                meta.row_group(0), 0, 1, (0.0, 40.0, 3.0, 50.0)) \
                == serve._BOUNDARY
        for bbox, want in [((0.0, 40.0, 3.0, 50.0), 3),
                           ((0.0, 40.0, 1.5, 50.0), 2),
                           ((2.5, 40.0, 3.0, 50.0), 0),
                           ((0.0, 40.0, 10.0, 50.0), 4)]:
            got = serve._count_in_bbox_driver(stage3, bbox)
            assert got == want, bbox
            assert instances_in_bbox(spark, None, bbox, checkpoint_dir=root,
                                     columns=("lon", "lat")).count() == want
