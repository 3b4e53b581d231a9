"""T3 clustering tests (reference tests/Clustering/ClusteringTests.cs)."""

import numpy as np
import pandas as pd
import pytest

from i3dm_export_spark.functions.geodesy import wgs84_to_ecef
from i3dm_export_spark.operators.clustering import minibatch_kmeans_labels, reduce_tile

from tests.kmeans_oracle import minibatch_kmeans_labels_loop


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


def _parity_inputs():
    """(id, points, k[, kwargs]) over the shapes and branches the kernel
    has."""
    rng = np.random.default_rng(17)
    ecef = wgs84_to_ecef(34.05 + rng.normal(0, 2e-4, 2500),
                         44.05 + rng.normal(0, 2e-4, 2500), np.zeros(2500))
    lonlat = np.column_stack([rng.uniform(34, 34.1, 900),
                              rng.uniform(44, 44.1, 900), np.zeros(900)])
    half = rng.normal(size=(400, 3))
    half[200:] = half[rng.integers(0, 200, 200)]
    normal = np.random.default_rng(0).normal(size=(500, 3))
    spread = np.random.default_rng(8).normal(size=(700, 3))
    return [
        ("n_below_k", rng.normal(size=(40, 3)), 50),
        ("n_equals_k", rng.normal(size=(50, 3)), 50),
        ("n_k_plus_1", rng.normal(size=(101, 3)), 100),
        ("k_1", rng.normal(size=(200, 3)), 1),
        # every k-means++ step takes the d2.sum() == 0 branch
        ("all_identical", np.full((300, 3), 6.4e6), 20),
        ("half_duplicated", half, 60),
        # 20 distinct points, 10 copies each: k = 30 leaves 10 clusters
        # empty after the assignment, so the repair runs
        ("empty_cluster_repair",
         np.repeat(rng.normal(size=(20, 3)), 10, axis=0), 30),
        # urban's hot cell in ECEF meters, at the export's k
        ("ecef_urban", ecef, 300),
        ("ecef_scale", 6.4e6 + rng.normal(0, 50.0, size=(1200, 3)), 40),
        # keep_projection clusters raw lon/lat/z
        ("raw_lonlat_z", lonlat, 100),
        ("d2", rng.normal(size=(600, 2)) * 1e3, 25),
        # the mean shift falls under the tolerance at iteration 4 and 51
        ("early_stop_4", normal * 0.01, 20),
        ("early_stop_51", normal * 0.1, 20),
        # one center can take 8+ rows of a batch: numpy's own mean
        ("d1_small_k", rng.normal(size=(300, 1)), 2),
        ("d8", rng.normal(size=(400, 8)), 15),
        ("batch_3", spread, 30, {"batch_size": 3}),
        ("batch_25", spread, 30, {"batch_size": 25}),
    ]


class TestOracleParity:
    """The vectorized kernel returns the frozen loop's labels
    (``tests/kmeans_oracle.py``): a changed label changes which instance
    represents a cluster, and so the content bytes of clustered exports."""

    @pytest.mark.parametrize("case", _parity_inputs(), ids=lambda c: c[0])
    @pytest.mark.parametrize("seed", [42, 7])
    def test_same_labels_as_loop(self, case, seed):
        _, pts, k, *extra = case
        kwargs = dict(*extra, seed=seed)
        np.testing.assert_array_equal(
            minibatch_kmeans_labels(pts, k, **kwargs),
            minibatch_kmeans_labels_loop(pts, k, **kwargs),
        )

    @pytest.mark.parametrize("d", [1, 2, 3, 7, 8, 9, 16, 23, 129, 300])
    def test_sq_dists_add_in_numpy_row_order(self, d):
        """Bit for bit ``np.sum((a - b) ** 2, axis=-1)``: labels alone
        rarely show a reordered sum, so the order is pinned here."""
        from i3dm_export_spark.operators.clustering import _sq_dists

        rng = np.random.default_rng(d)
        a = rng.normal(size=(10, 1, d)) * rng.uniform(1e-3, 1e6, size=d)
        b = rng.normal(size=(1, 30, d)) * 1e3
        np.testing.assert_array_equal(
            _sq_dists(np.moveaxis(a, -1, 0), np.moveaxis(b, -1, 0)),
            np.sum((a - b) ** 2, axis=-1),
        )

    @pytest.mark.parametrize("d", [1, 2, 3])
    def test_cluster_means_equal_numpy_mean(self, d):
        from i3dm_export_spark.operators.clustering import _cluster_means

        rng = np.random.default_rng(d)
        for n_labels in (1, 2, 5):
            batch = rng.normal(size=(25, d)) * 1e6
            labels = rng.integers(0, n_labels, 25)
            sizes = np.bincount(labels)
            moved = np.flatnonzero(sizes)
            expected = [batch[labels == j].mean(axis=0) for j in moved]
            np.testing.assert_array_equal(
                _cluster_means(batch, labels, moved, sizes[moved]), expected)

    @pytest.mark.parametrize("uniform", [False, True])
    def test_choice_draw_is_cumsum_searchsorted(self, uniform):
        """The k-means++ step draws with ``clustering._choice``, not
        ``Generator.choice``; a numpy whose ``choice(n, p=p)`` draws
        differently must fail here rather than quietly change the labels."""
        from i3dm_export_spark.operators.clustering import _choice

        rng = np.random.default_rng(3)
        for n in (1, 2, 9, 900):
            p = np.full(n, 1.0 / n) if uniform else rng.random(n) ** 4
            p = p / p.sum()
            a, b = np.random.default_rng(n), np.random.default_rng(n)
            for _ in range(50):
                assert a.choice(n, p=p) == _choice(b, p)
            assert a.random() == b.random()


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


class TestTileMembersSpark:
    def test_exact_k_per_hot_tile(self, spark):
        """The export's LOD reduce (``encode.tile_members``) in one grouped
        applyInPandas over every content tile."""
        from i3dm_export_spark.config import ExportOptions
        from i3dm_export_spark.operators import extent, tiling
        from i3dm_export_spark.operators.encode import tile_members
        from i3dm_export_spark.packaging import ensure_shipped
        from i3dm_export_spark.sources.pages import synthesize_pages

        pdf = synthesize_pages(2500, scenario="A")
        bounds = extent.derive_root_bounds(
            pdf["lon"].min(), pdf["lat"].min(), pdf["lon"].max(), pdf["lat"].max(), 0, 0
        )
        opts = ExportOptions(max_features_per_tile=100, use_clustering=True, max_level=12)
        df = spark.createDataFrame(pdf)
        tree = tiling.build_tile_tree(df, bounds, opts)
        assigned = tiling.assign_to_content_tiles(df, tree, opts)
        ensure_shipped(spark)

        def _reduce(g: pd.DataFrame) -> pd.DataFrame:
            return tile_members(g, opts)

        reduced = assigned.groupBy("level", "x", "y").applyInPandas(
            _reduce, schema=assigned.schema
        )
        per_tile = reduced.groupBy("level", "x", "y").count().toPandas()
        # reference invariant: every clustered (over-full) tile has EXACTLY
        # max_features rows; leaves keep their counts <= max
        assert (per_tile["count"] <= 100).all()
        tree_pdf = tiling.collect_tiles(tree)
        hot = tree_pdf[(tree_pdf.content_available) & (tree_pdf.n_instances > 100)]
        merged = hot.merge(per_tile, on=["level", "x", "y"])
        assert len(merged) == len(hot)
        assert (merged["count"] == 100).all()
