"""Tests for quadtree / Morton / S2 cell kernels."""

import numpy as np

from i3dm_export_spark.functions import cells


BBOX = (34.0, 44.0, 34.1, 44.1)


class TestTileXY:
    def test_level0_everything_in_root(self):
        lon = np.array([34.0, 34.05, 34.0999])
        lat = np.array([44.0, 44.05, 44.0999])
        x, y = cells.tile_xy(lon, lat, 0, BBOX)
        assert (x == 0).all() and (y == 0).all()

    def test_level1_quadrants_y_grows_north(self):
        # reference src/ImplicitTiling.cs:81-88: dy=0 is south
        lon = np.array([34.01, 34.09, 34.01, 34.09])
        lat = np.array([44.01, 44.01, 44.09, 44.09])
        x, y = cells.tile_xy(lon, lat, 1, BBOX)
        assert list(x) == [0, 1, 0, 1]
        assert list(y) == [0, 0, 1, 1]

    def test_matches_recursive_midpoint_split(self):
        """Closed form agrees with the reference's recursive halving
        (src/ImplicitTiling.cs:73-91) for every cell it lands in."""
        rng = np.random.default_rng(42)
        lon = rng.uniform(34.0, 34.1, 2000)
        lat = rng.uniform(44.0, 44.1, 2000)
        for level in (1, 2, 3, 5, 8):
            x, y = cells.tile_xy(lon, lat, level, BBOX)
            # recursive descent per point (oracle)
            for px, py, ex, ey in zip(lon[:50], lat[:50], x[:50], y[:50]):
                x0, y0, x1, y1 = BBOX
                tx = ty = 0
                for _ in range(level):
                    dx = (x1 - x0) / 2
                    dy = (y1 - y0) / 2
                    if px >= x0 + dx:
                        tx = tx * 2 + 1
                        x0 += dx
                    else:
                        tx *= 2
                        x1 -= dx
                    if py >= y0 + dy:
                        ty = ty * 2 + 1
                        y0 += dy
                    else:
                        ty *= 2
                        y1 -= dy
                assert (tx, ty) == (ex, ey)

    def test_clamping(self):
        x, y = cells.tile_xy(np.array([33.0, 35.0]), np.array([43.0, 45.0]), 3, BBOX)
        assert list(x) == [0, 7]
        assert list(y) == [0, 7]

    def test_sql_matches_numpy(self):
        import duckdb

        lon = np.linspace(34.0, 34.0999, 97)
        lat = np.linspace(44.0, 44.0999, 97)
        x, y = cells.tile_xy(lon, lat, 4, BBOX)
        xe, ye = cells.tile_xy_sql("lon", "lat", 4, BBOX)
        con = duckdb.connect()
        con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
        got = con.execute(f"select {xe} as x, {ye} as y from pts").fetchnumpy()
        np.testing.assert_array_equal(got["x"], x)
        np.testing.assert_array_equal(got["y"], y)

    def test_parent(self):
        x, y = cells.parent_xy(np.array([5]), np.array([6]), 1)
        assert (x[0], y[0]) == (2, 3)

    def test_matches_with_cell_keys_bit_for_bit(self, spark):
        """The append's driver counts and reassignment key rows with
        ``tile_xy``; the export keys them with ``tiling.with_cell_keys``.
        Both must agree on every double: cell edges at the level, the root
        bounds' edges, points outside (clamped), their ``nextafter``
        neighbours, and the non-finite values Spark's floor saturates."""
        from i3dm_export_spark.config import Bounds
        from i3dm_export_spark.operators.tiling import with_cell_keys

        bounds = Bounds(34.0, 44.0, 34.1, 44.1)
        rng = np.random.default_rng(7)
        for level in (0, 1, 14, 20):
            n = 1 << level
            k = np.unique(np.concatenate([
                np.arange(min(n, 64) + 1), rng.integers(0, n + 1, 64)]))
            edges_x = 34.0 + k / n * (34.1 - 34.0)
            edges_y = 44.0 + k / n * (44.1 - 44.0)
            special = [np.nan, np.inf, -np.inf, 1e300, -1e300]

            def points(edges, lo, hi):
                return np.concatenate([
                    edges, np.nextafter(edges, -np.inf),
                    np.nextafter(edges, np.inf),
                    [lo, hi, lo - 1.0, hi + 1.0], special])

            xs = points(edges_x, 34.0, 34.1)
            ys = points(edges_y, 44.0, 44.1)
            pts = (np.concatenate([xs, xs]),
                   np.concatenate([ys, np.roll(ys, len(ys) // 2)]))
            df = spark.createDataFrame(
                [(i, float(a), float(b))
                 for i, (a, b) in enumerate(zip(*pts))],
                "i long, lon double, lat double")
            got = with_cell_keys(df, bounds, level).orderBy("i").toPandas()
            x, y = cells.tile_xy(pts[0], pts[1], level, bounds.bbox)
            np.testing.assert_array_equal(got["cell_x"].to_numpy(), x)
            np.testing.assert_array_equal(got["cell_y"].to_numpy(), y)


class TestMorton:
    def test_known_values(self):
        # interleave: (x=1,y=0)->1, (x=0,y=1)->2, (x=1,y=1)->3, (x=2,y=3)->14
        x = np.array([0, 1, 0, 1, 2])
        y = np.array([0, 0, 1, 1, 3])
        np.testing.assert_array_equal(cells.morton_encode(x, y), [0, 1, 2, 3, 14])

    def test_roundtrip(self):
        rng = np.random.default_rng(7)
        x = rng.integers(0, 2**30, 1000)
        y = rng.integers(0, 2**30, 1000)
        dx, dy = cells.morton_decode(cells.morton_encode(x, y))
        np.testing.assert_array_equal(dx, x)
        np.testing.assert_array_equal(dy, y)


class TestS2:
    def test_deterministic_and_valid(self):
        lon = np.array([5.1, -122.3, 151.2, 0.0])
        lat = np.array([52.1, 47.6, -33.9, 0.0])
        c1 = cells.s2_cell_id(lon, lat, 12)
        c2 = cells.s2_cell_id(lon, lat, 12)
        np.testing.assert_array_equal(c1, c2)
        assert (cells.s2_level(c1) == 12).all()

    def test_parent_containment(self):
        rng = np.random.default_rng(3)
        lon = rng.uniform(-180, 180, 500)
        lat = rng.uniform(-89, 89, 500)
        c30 = cells.s2_cell_id(lon, lat, 30)
        c10_direct = cells.s2_cell_id(lon, lat, 10)
        c10_via_parent = cells.s2_parent(c30, 10)
        np.testing.assert_array_equal(c10_direct, c10_via_parent)

    def test_locality(self):
        # nearby points at fine level share a coarse parent
        lon = np.array([5.10000, 5.10001])
        lat = np.array([52.10000, 52.10001])
        c = cells.s2_cell_id(lon, lat, 10)
        assert c[0] == c[1]

    def test_distinct_far_points(self):
        lon = np.array([5.0, 100.0])
        lat = np.array([52.0, -30.0])
        c = cells.s2_cell_id(lon, lat, 5)
        assert c[0] != c[1]


class TestDistributedSynthesis:
    def test_matches_pandas_synthesis(self, spark):
        import numpy as np

        from i3dm_export_spark.sources.pages import pages_df, pages_df_distributed

        a = pages_df(spark, 1000, "A").orderBy("url").toPandas()
        b = pages_df_distributed(spark, 1000, "A").orderBy("url").toPandas()
        for col in ("url", "text", "lang", "model"):
            assert (a[col] == b[col]).all(), col
        for col in ("lon", "lat", "z", "scale"):
            assert np.array_equal(a[col].to_numpy(), b[col].to_numpy()), col
