"""Stage-2/3 golden tests: engine tile tree == reference-semantics oracle."""

import numpy as np
import pytest

from i3dm_export_spark.config import ExportOptions
from i3dm_export_spark.operators import extent, tiling
from i3dm_export_spark.sources.pages import synthesize_pages

from .oracle import reference_tile_tree


@pytest.fixture(scope="module")
def fixture_pages():
    return synthesize_pages(2500, scenario="A")


@pytest.fixture(scope="module")
def fixture_bounds(fixture_pages):
    # same derivation the engine applies (inflation+clamp+degeneracy fix)
    return extent.derive_root_bounds(
        fixture_pages["lon"].min(), fixture_pages["lat"].min(),
        fixture_pages["lon"].max(), fixture_pages["lat"].max(),
        0.0, 0.0,
    )


class TestDeriveRootBounds:
    def test_inflation_asymmetry_bug_compat(self):
        # reference src/InstancesRepository.cs:89-93: xmax uses mutated xmin
        b = extent.derive_root_bounds(0.0, 0.0, 10.0, 10.0, 0.0, 0.0)
        assert b.xmin == -1.0 and b.ymin == -1.0
        # xmax = 10 + (10 - (-1)) * 0.1 = 11.1 (NOT 11.0)
        assert b.xmax == pytest.approx(11.1)
        assert b.ymax == pytest.approx(11.1)

    def test_heights_offsets(self):
        # reference src/InstancesRepository.cs:83-84
        b = extent.derive_root_bounds(0, 0, 10, 10, 5.0, 20.0, heights=(0.0, 10.0))
        assert b.zmin == 5.0 and b.zmax == 30.0

    def test_clamp(self):
        b = extent.derive_root_bounds(-179, -89, 179, 89, 0, 0)
        assert b.xmin == -180.0 and b.xmax == 180.0
        assert b.ymin == -90.0 and b.ymax == 90.0

    def test_degenerate_point_bbox(self):
        # reference src/Program.cs:81-91: all features on one point
        b = extent.derive_root_bounds(5.0, 52.0, 5.0, 52.0, 0, 0)
        assert b.xmax - b.xmin == pytest.approx(0.001)
        assert b.ymax - b.ymin == pytest.approx(0.001)


def _tree_to_dict(tiles_pdf):
    return {
        (int(r.level), int(r.x), int(r.y)): (
            bool(r.available), bool(r.content_available), int(r.n_instances)
        )
        for r in tiles_pdf.itertuples()
    }


class TestTileTree:
    @pytest.mark.parametrize("max_features,clustering", [(100, False), (100, True), (1000, False)])
    def test_matches_reference_oracle(self, spark, fixture_pages, fixture_bounds,
                                      max_features, clustering):
        opts = ExportOptions(max_features_per_tile=max_features,
                             use_clustering=clustering, max_level=12)
        df = spark.createDataFrame(fixture_pages)
        tree = tiling.build_tile_tree(df, fixture_bounds, opts)
        got = _tree_to_dict(tiling.collect_tiles(tree))

        want = reference_tile_tree(
            fixture_pages["lon"].to_numpy(), fixture_pages["lat"].to_numpy(),
            fixture_bounds.bbox, max_features, clustering, max_level=12,
        )
        assert got == want
        # fixture forces >= 3 levels at max_features=100 (2,500 points)
        if max_features == 100:
            assert max(k[0] for k in want) >= 3

    def test_no_fixture_point_on_cell_boundary(self, fixture_pages, fixture_bounds):
        """Guards the half-open-cell deviation: no fixture point may sit
        exactly on any cell boundary up to level 12."""
        lon = fixture_pages["lon"].to_numpy()
        lat = fixture_pages["lat"].to_numpy()
        for level in range(1, 13):
            n = 1 << level
            fx = (lon - fixture_bounds.xmin) / (fixture_bounds.xmax - fixture_bounds.xmin) * n
            fy = (lat - fixture_bounds.ymin) / (fixture_bounds.ymax - fixture_bounds.ymin) * n
            assert not np.any(fx == np.floor(fx))
            assert not np.any(fy == np.floor(fy))

    def test_query_passthrough(self, spark, fixture_pages, fixture_bounds):
        # P2: -q predicate applied to every count/fetch (reference
        # src/ImplicitTiling.cs:35); here a Spark SQL filter
        opts = ExportOptions(max_features_per_tile=100, query="lang = 'en'", max_level=12)
        df = spark.createDataFrame(fixture_pages)
        tree = tiling.build_tile_tree(df, fixture_bounds, opts)
        total = (
            tree.tiles.filter("content_available").agg({"n_instances": "sum"}).collect()[0][0]
        )
        n_en = (fixture_pages["lang"] == "en").sum()
        assert total == n_en


class TestAssignment:
    def test_every_instance_lands_in_exactly_one_leaf(self, spark, fixture_pages, fixture_bounds):
        opts = ExportOptions(max_features_per_tile=100, max_level=12)
        df = spark.createDataFrame(fixture_pages)
        tree = tiling.build_tile_tree(df, fixture_bounds, opts)
        assigned = tiling.assign_to_content_tiles(df, tree, opts)
        assert assigned.count() == 2500
        assert assigned.select("url").distinct().count() == 2500
        # per-tile totals agree with the tree's counts
        per_tile = assigned.groupBy("level", "x", "y").count()
        tree_counts = tree.tiles.filter("content_available").select(
            "level", "x", "y", "n_instances"
        )
        joined = per_tile.join(tree_counts, ["level", "x", "y"], "full")
        bad = joined.filter("count IS NULL OR n_instances IS NULL OR count != n_instances")
        assert bad.count() == 0

    def test_clustering_assigns_interior_content_too(self, spark, fixture_pages, fixture_bounds):
        opts = ExportOptions(max_features_per_tile=100, use_clustering=True, max_level=12)
        df = spark.createDataFrame(fixture_pages)
        tree = tiling.build_tile_tree(df, fixture_bounds, opts)
        assigned = tiling.assign_to_content_tiles(df, tree, opts)
        # over-full content tiles receive their full subtree multiset
        assert assigned.count() > 2500


class TestDriverDescentParity:
    """The driver-side descent fast path must produce exactly the same tiles
    as the distributed per-level path."""

    @pytest.mark.parametrize("max_features,clustering", [(100, False), (100, True)])
    def test_paths_agree(self, spark, fixture_pages, fixture_bounds, max_features, clustering):
        opts = ExportOptions(max_features_per_tile=max_features,
                             use_clustering=clustering, max_level=12)
        df = spark.createDataFrame(fixture_pages)
        fast = tiling._build_tile_tree_at(df, fixture_bounds, opts, 12)
        slow = tiling._descend_distributed(
            tiling.deep_counts(df, fixture_bounds, 12, opts.query),
            fixture_bounds, opts, 12,
        )
        got_fast = _tree_to_dict(tiling.collect_tiles(fast))
        got_slow = _tree_to_dict(tiling.collect_tiles(slow))
        assert got_fast == got_slow

    def test_threshold_routes_to_distributed(self, spark, fixture_pages, fixture_bounds,
                                             monkeypatch):
        opts = ExportOptions(max_features_per_tile=100, max_level=10)
        df = spark.createDataFrame(fixture_pages)
        slow = tiling._build_tile_tree_at(df, fixture_bounds, opts, 10)
        # a 1-cell budget forces the distributed path; results must still match
        monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", 1)
        fast = tiling._build_tile_tree_at(df, fixture_bounds, opts, 10)
        assert fast.tiles_pdf is None
        assert _tree_to_dict(tiling.collect_tiles(fast)) == _tree_to_dict(
            tiling.collect_tiles(slow)
        )
