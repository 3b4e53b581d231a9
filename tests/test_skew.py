"""Explicit skew salting (SURVEY.md §7 step 8 / north_rule).

Synthesized 100:1 hot cell: one tile with ~100x the rows of the others.
Checks routing (cold untouched / warm single-stage / hot two-stage),
the exactly-k count invariant, salt determinism, that salts actually
fragment the hot group, and that the elected members do not depend on
the input's partitioning.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from i3dm_export_spark.config import ExportOptions
from i3dm_export_spark.operators import skew


def _assigned(spark, hot_rows=2000, cold_rows=20, n_cold=5):
    rows = []
    for i in range(hot_rows):  # hot tile (3, 0, 0)
        rows.append((3, 0, 0, f"u{i:06d}", 34.0 + (i % 97) * 1e-4, 44.0 + (i % 89) * 1e-4, 0.0))
    for t in range(1, n_cold + 1):  # cold tiles
        for i in range(cold_rows):
            rows.append((3, t, t, f"c{t}_{i:04d}", 34.05 + t * 1e-3 + i * 1e-5, 44.05, 0.0))
    return spark.createDataFrame(
        rows, "level int, x long, y long, url string, lon double, lat double, z double"
    )


@pytest.fixture(scope="module")
def opts():
    return ExportOptions(
        max_features_per_tile=50, skew_salt_threshold=8.0, skew_salt_buckets=4,
        use_clustering=True,
    )


class TestSalting:
    def test_hot_cell_keys_from_counts(self, spark, opts):
        df = _assigned(spark)
        counts = df.groupBy("level", "x", "y").agg(F.count(F.lit(1)).alias("_n"))
        hot = skew.hot_cell_keys(counts, int(opts.skew_salt_threshold * opts.max_features_per_tile))
        assert [(r.level, r.x, r.y) for r in hot.collect()] == [(3, 0, 0)]

    def test_salt_fragments_hot_only_and_deterministic(self, spark, opts):
        df = _assigned(spark)
        counts = df.groupBy("level", "x", "y").agg(F.count(F.lit(1)).alias("_n"))
        hot = skew.hot_cell_keys(counts, 400)
        salted = skew.add_salt_for_hot(df, hot, 4, id_col="url")
        per_tile = (
            salted.groupBy("level", "x")
            .agg(F.countDistinct("_salt").alias("ns"))
            .collect()
        )
        by_x = {r.x: r.ns for r in per_tile}
        assert by_x[0] == 4           # hot tile fragmented into all buckets
        assert all(v == 1 for x, v in by_x.items() if x != 0)  # cold: salt 0
        # deterministic: same salt on recompute
        s1 = {(r.url, r._salt) for r in salted.collect()}
        s2 = {(r.url, r._salt) for r in skew.add_salt_for_hot(df, hot, 4, id_col="url").collect()}
        assert s1 == s2

    def test_reduction_count_invariant(self, spark, opts):
        df = _assigned(spark)
        out = skew.cluster_tiles_salted(df, opts)
        got = {
            (r.level, r.x, r.y): r.n
            for r in out.groupBy("level", "x", "y").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got[(3, 0, 0)] == opts.max_features_per_tile  # hot -> exactly k
        for t in range(1, 6):
            assert got[(3, t, t)] == 20  # under k -> untouched

    def test_warm_tile_single_stage(self, spark, opts):
        # 120 rows: k < n <= 8k -> warm path, exactly k out
        df = _assigned(spark, hot_rows=120, cold_rows=10, n_cold=1)
        out = skew.cluster_tiles_salted(df, opts)
        n_hot = out.filter("x = 0").count()
        assert n_hot == opts.max_features_per_tile

    def test_survivors_come_from_input(self, spark, opts):
        df = _assigned(spark)
        out = skew.cluster_tiles_salted(df, opts)
        in_urls = {r.url for r in df.collect()}
        assert {r.url for r in out.collect()} <= in_urls

    def test_member_sets_partition_invariant(self, spark, opts):
        """The elected members of every route — hot (salted two-stage),
        warm (single stage), cold (untouched) — must not depend on how the
        input is partitioned."""
        warm = _assigned(spark, hot_rows=120, cold_rows=0, n_cold=0).select(
            "level", F.lit(7).cast("long").alias("x"),
            F.lit(7).cast("long").alias("y"),
            F.concat(F.lit("w"), "url").alias("url"), "lon", "lat", "z",
        )
        df = _assigned(spark).unionByName(warm)

        def members(n_parts):
            out = skew.cluster_tiles_salted(df.repartition(n_parts), opts)
            return {(r.level, r.x, r.y, r.url) for r in out.collect()}

        one = members(1)
        assert one == members(64)
        per_tile = Counter((level, x, y) for level, x, y, _ in one)
        k = opts.max_features_per_tile
        assert per_tile[(3, 0, 0)] == k  # hot: 2000 rows > 8k
        assert per_tile[(3, 7, 7)] == k  # warm: 120 rows in (k, 8k]
        assert all(per_tile[(3, t, t)] == 20 for t in range(1, 6))  # cold
