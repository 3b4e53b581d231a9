"""Explicit skew salting (SURVEY.md §7 step 8 / north_rule).

Synthesized 100:1 hot cell: one tile with ~100x the rows of the others.
The LOD reduce is two steps: the salted stage A
(``skew.cluster_tiles_salted``) over hot tiles only, then the encode's
per-tile kernel (``encode.encode_tile``, whose reduce is
``encode.tile_members``), which reduces every over-full tile to exactly
k. Checks the hot keys read off a tile table, routing (cold and warm
untouched by stage A, hot fragmented), the exactly-k count invariant of
the encoded payloads, salt determinism, and that the elected members do
not depend on the input's partitioning.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from i3dm_export_spark.config import ExportOptions
from i3dm_export_spark.operators import encode as enc
from i3dm_export_spark.operators import skew

KEY = ["level", "x", "y"]


def _assigned(spark, hot_rows=2000, cold_rows=20, n_cold=5):
    rows = []
    for i in range(hot_rows):  # hot tile (3, 0, 0)
        rows.append((3, 0, 0, f"u{i:06d}", 34.0 + (i % 97) * 1e-4, 44.0 + (i % 89) * 1e-4, 0.0))
    for t in range(1, n_cold + 1):  # cold tiles
        for i in range(cold_rows):
            rows.append((3, t, t, f"c{t}_{i:04d}", 34.05 + t * 1e-3 + i * 1e-5, 44.05, 0.0))
    return spark.createDataFrame(
        rows, "level int, x long, y long, url string, lon double, lat double, z double"
    ).select(
        "*", F.lit(1.0).alias("scale"), F.lit(0.0).alias("yaw"),
        F.lit(0.0).alias("pitch"), F.lit(0.0).alias("roll"),
        F.lit("m").alias("model"), F.lit(None).cast("string").alias("tags"),
    )


def _tiles(df):
    """The stage-2 tile table's part the hot keys read: n_instances per
    content tile."""
    return df.groupBy(*KEY).agg(F.count(F.lit(1)).alias("n_instances"))


def _stage_a(df, opts):
    return skew.cluster_tiles_salted(
        df, skew.hot_tile_keys(_tiles(df), None, opts), opts)


def _encoded_counts(df, opts):
    """Instances in each tile's payload, from the per-tile kernel run
    over stage A's output (what the export's content sink writes)."""
    got = {}
    for r in enc.encode_tiles(_stage_a(df, opts), opts).collect():
        inner = enc.parse_cmpt(bytes(r.payload))
        got[(r.level, r.x, r.y)] = sum(
            enc.parse_i3dm(t)[0]["INSTANCES_LENGTH"] for t in inner)
    return got


def _members(stage_a, opts):
    """(level, x, y, url) the per-tile kernel encodes from stage A's
    output: ``encode.tile_members`` per tile, as ``encode_tile`` runs it."""
    pdf = stage_a.toPandas()
    return {
        (level, x, y, url)
        for (level, x, y), g in pdf.groupby(KEY)
        for url in enc.tile_members(g, opts)["url"]
    }


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

    def test_hot_tile_keys_from_tile_table(self, spark, opts):
        """Both sides of the tile table give the same hot keys; a driver
        table without a hot tile gives None, so stage A is skipped."""
        tiles = _tiles(_assigned(spark))
        spark_side = skew.hot_tile_keys(tiles, None, opts)
        driver_side = skew.hot_tile_keys(tiles, tiles.toPandas(), opts)
        for hot in (spark_side, driver_side):
            assert [(r.level, r.x, r.y) for r in hot.collect()] == [(3, 0, 0)]
        cold = _tiles(_assigned(spark, hot_rows=120))
        assert skew.hot_tile_keys(cold, cold.toPandas(), opts) is None
        df = _assigned(spark, hot_rows=120)
        assert skew.cluster_tiles_salted(df, None, opts) is df

    def test_salt_fragments_hot_only_and_deterministic(self, spark, opts):
        df = _assigned(spark)
        counts = df.groupBy("level", "x", "y").agg(F.count(F.lit(1)).alias("_n"))
        hot = skew.hot_cell_keys(counts, 400)
        salted = skew.add_salt_for_hot(df, hot, 4, id_col="url")
        per_tile = (
            salted.groupBy("level", "x")
            .agg(F.countDistinct("_salt").alias("ns"),
                 F.count("_salt").alias("n_salted"))
            .collect()
        )
        by_x = {r.x: (r.ns, r.n_salted) for r in per_tile}
        assert by_x[0] == (4, 2000)   # hot tile fragmented into all buckets
        # cold: no salt, so one group each
        assert all(v == (0, 0) for x, v in by_x.items() if x != 0)
        # deterministic: same salt on recompute
        s1 = {(r.url, r._salt) for r in salted.collect()}
        s2 = {(r.url, r._salt) for r in skew.add_salt_for_hot(df, hot, 4, id_col="url").collect()}
        assert s1 == s2

    def test_reduction_count_invariant(self, spark, opts):
        df = _assigned(spark)
        stage_a = _stage_a(df, opts)
        # stage A: cold rows untouched, the hot tile pre-reduced to at
        # most k per salt bucket
        cold = df.filter("x != 0")
        assert sorted(stage_a.filter("x != 0").collect()) == sorted(cold.collect())
        n_hot_a = stage_a.filter("x = 0").count()
        k, m = opts.max_features_per_tile, opts.skew_salt_buckets
        assert k < n_hot_a <= m * k
        got = _encoded_counts(df, opts)
        assert got[(3, 0, 0)] == k  # hot -> exactly k
        for t in range(1, 6):
            assert got[(3, t, t)] == 20  # under k -> untouched

    def test_warm_tile_single_stage(self, spark, opts):
        # 120 rows: k < n <= 8k -> warm: stage A passes it through, the
        # per-tile kernel reduces it to exactly k in one step
        df = _assigned(spark, hot_rows=120, cold_rows=10, n_cold=1)
        assert _stage_a(df, opts).filter("x = 0").count() == 120
        assert _encoded_counts(df, opts)[(3, 0, 0)] == opts.max_features_per_tile

    def test_survivors_come_from_input(self, spark, opts):
        df = _assigned(spark)
        members = _members(_stage_a(df, opts), opts)
        in_urls = {r.url for r in df.collect()}
        assert {url for *_key, url in members} <= in_urls

    def test_member_sets_partition_invariant(self, spark, opts):
        """The elected members of every route — hot (salted stage A, then
        the per-tile kernel), warm (the kernel alone), cold (untouched) —
        must not depend on how the input is partitioned."""
        warm = _assigned(spark, hot_rows=120, cold_rows=0, n_cold=0).select(
            "level", F.lit(7).cast("long").alias("x"),
            F.lit(7).cast("long").alias("y"),
            F.concat(F.lit("w"), "url").alias("url"), "lon", "lat", "z",
            "scale", "yaw", "pitch", "roll", "model", "tags",
        )
        df = _assigned(spark).unionByName(warm)

        def members(n_parts):
            return _members(_stage_a(df.repartition(n_parts), opts), opts)

        one = members(1)
        assert one == members(64)
        per_tile = Counter((level, x, y) for level, x, y, _ in one)
        k = opts.max_features_per_tile
        assert per_tile[(3, 0, 0)] == k  # hot: 2000 rows > 8k
        assert per_tile[(3, 7, 7)] == k  # warm: 120 rows in (k, 8k]
        assert all(per_tile[(3, t, t)] == 20 for t in range(1, 6))  # cold
