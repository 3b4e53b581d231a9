"""T3 clustering tests (reference tests/Clustering/ClusteringTests.cs)."""

import numpy as np
import pandas as pd
import pytest

from i3dm_export_spark.operators.clustering import minibatch_kmeans_labels, reduce_tile


class TestMiniBatchKMeans:
    def test_exactly_k_clusters_1000_random(self):
        # reference tests/Clustering/ClusteringTests.cs:11-38: 1000 random
        # points, k=10 -> exactly 10 out
        rng = np.random.default_rng(1)
        pts = rng.uniform(0, 100, size=(1000, 3))
        labels = minibatch_kmeans_labels(pts, 10)
        assert len(np.unique(labels)) == 10

    @pytest.mark.parametrize("n,k", [(2500, 100), (150, 100), (101, 100)])
    def test_count_invariant(self, n, k):
        rng = np.random.default_rng(2)
        pts = rng.normal(size=(n, 3))
        labels = minibatch_kmeans_labels(pts, k)
        assert len(np.unique(labels)) == k

    def test_deterministic(self):
        rng = np.random.default_rng(3)
        pts = rng.normal(size=(500, 3))
        l1 = minibatch_kmeans_labels(pts, 20, seed=42)
        l2 = minibatch_kmeans_labels(pts, 20, seed=42)
        np.testing.assert_array_equal(l1, l2)

    def test_separated_clusters_found(self):
        # 4 well-separated blobs -> labels must separate them perfectly
        rng = np.random.default_rng(4)
        centers = np.array([[0, 0, 0], [100, 0, 0], [0, 100, 0], [100, 100, 0]])
        pts = np.concatenate([c + rng.normal(0, 1, (50, 3)) for c in centers])
        labels = minibatch_kmeans_labels(pts, 4)
        for i in range(4):
            blob = labels[i * 50 : (i + 1) * 50]
            assert len(np.unique(blob)) == 1
        assert len(np.unique(labels)) == 4

    @pytest.mark.parametrize("n,k", [(2500, 300), (5000, 40)])
    def test_labels_independent_of_assignment_chunk(self, monkeypatch, n, k):
        """The final assignment is chunked by element count; the chunk
        size bounds memory only, so one row per chunk, the default and
        one chunk for all rows give the same labels."""
        from i3dm_export_spark.operators import clustering

        rng = np.random.default_rng(6)
        # ECEF-scale coordinates: the magnitudes a tile's k-means sees
        pts = 6.4e6 + rng.normal(0, 50.0, size=(n, 3))
        default = minibatch_kmeans_labels(pts, k)
        for elements in (k, 10**9):
            monkeypatch.setattr(clustering, "_ASSIGN_CHUNK_ELEMENTS", elements)
            np.testing.assert_array_equal(minibatch_kmeans_labels(pts, k),
                                          default)


class TestReduceTile:
    def _pdf(self, n):
        rng = np.random.default_rng(5)
        return pd.DataFrame(
            {
                "url": [f"https://example.org/p/{i:08d}" for i in range(n)],
                "lon": rng.uniform(34, 34.1, n),
                "lat": rng.uniform(44, 44.1, n),
                "z": np.zeros(n),
            }
        )

    def test_reduces_to_exactly_k(self):
        out = reduce_tile(self._pdf(500), 100)
        assert len(out) == 100

    def test_small_tile_passthrough(self):
        pdf = self._pdf(50)
        out = reduce_tile(pdf, 100)
        assert len(out) == 50

    def test_representative_is_first_per_label_in_url_order(self):
        # the kept rows must be the url-order-first member of each cluster
        pdf = self._pdf(300)
        out = reduce_tile(pdf, 10)
        assert len(out) == 10
        assert out["url"].is_unique
        # determinism under the pinned seed
        out2 = reduce_tile(self._pdf(300), 10)
        assert list(out["url"]) == list(out2["url"])


class TestClusterTilesSpark:
    def test_exact_k_per_hot_tile(self, spark):
        from i3dm_export_spark.config import ExportOptions
        from i3dm_export_spark.operators import extent, tiling
        from i3dm_export_spark.operators.clustering import cluster_tiles
        from i3dm_export_spark.sources.pages import synthesize_pages

        pdf = synthesize_pages(2500, scenario="A")
        bounds = extent.derive_root_bounds(
            pdf["lon"].min(), pdf["lat"].min(), pdf["lon"].max(), pdf["lat"].max(), 0, 0
        )
        opts = ExportOptions(max_features_per_tile=100, use_clustering=True, max_level=12)
        df = spark.createDataFrame(pdf)
        tree = tiling.build_tile_tree(df, bounds, opts)
        assigned = tiling.assign_to_content_tiles(df, tree, opts)
        reduced = cluster_tiles(assigned, opts)
        per_tile = reduced.groupBy("level", "x", "y").count().toPandas()
        # reference invariant: every clustered (over-full) tile has EXACTLY
        # max_features rows; leaves keep their counts <= max
        assert (per_tile["count"] <= 100).all()
        tree_pdf = tiling.collect_tiles(tree)
        hot = tree_pdf[(tree_pdf.content_available) & (tree_pdf.n_instances > 100)]
        merged = hot.merge(per_tile, on=["level", "x", "y"])
        assert len(merged) == len(hot)
        assert (merged["count"] == 100).all()
