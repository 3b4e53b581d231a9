"""T4 subtree availability tests (3D Tiles 1.1 layout + semantics)."""

import numpy as np
import pandas as pd

from i3dm_export_spark.operators import subtree


def _tiles(rows):
    return pd.DataFrame(
        rows, columns=["level", "x", "y", "available", "content_available", "n_instances"]
    )


class TestBitstrings:
    def test_single_root_leaf(self):
        t = _tiles([(0, 0, 0, True, True, 10)])
        tile_b, content_b, child_b = subtree.subtree_bitstrings(t, 0, 0, 0, 2)
        # interior bits: 1 (root) + 4 (level 1) = 5
        assert tile_b == "10000"
        assert content_b == "10000"
        assert child_b == "0" * 16

    def test_split_root_with_leaves_morton_order(self):
        # root split (no content), 4 children: content at (1,0,0) and (1,1,1);
        # morton(0,0)=0, morton(1,1)=3
        t = _tiles(
            [
                (0, 0, 0, False, False, 200),
                (1, 0, 0, True, True, 50),
                (1, 1, 0, False, False, 0),
                (1, 0, 1, False, False, 0),
                (1, 1, 1, True, True, 150),
            ]
        )
        tile_b, content_b, child_b = subtree.subtree_bitstrings(t, 0, 0, 0, 2)
        assert tile_b == "11001"   # root + children morton 0 and 3
        assert content_b == "01001"
        assert child_b == "0" * 16

    def test_child_subtree_bits(self):
        # a recorded non-empty tile at local level == s -> child subtree bit
        t = _tiles(
            [
                (0, 0, 0, False, False, 500),
                (2, 1, 2, False, False, 300),  # morton(1,2) = 1 + 8 = 9
            ]
        )
        _, _, child_b = subtree.subtree_bitstrings(t, 0, 0, 0, 2)
        assert child_b == "0000000001000000"
        assert child_b[9] == "1"

    def test_empty_tiles_not_available(self):
        t = _tiles([(0, 0, 0, False, False, 0)])
        tile_b, content_b, _ = subtree.subtree_bitstrings(t, 0, 0, 0, 2)
        assert tile_b == "00000"
        assert content_b == "00000"


class TestBinaryFormat:
    def test_roundtrip(self):
        data = subtree.serialize_subtree("10000", "10000", "0" * 16)
        j, buf = subtree.parse_subtree(data)
        assert j["tileAvailability"] == {"bitstream": 0}
        assert j["contentAvailability"] == [{"bitstream": 1}]
        assert j["childSubtreeAvailability"] == {"bitstream": 2}
        assert len(j["bufferViews"]) == 3
        # first bitstream byte: bit0 set, little bit order
        v0 = j["bufferViews"][0]
        assert buf[v0["byteOffset"]] == 0b00000001
        assert len(data) % 8 == 0

    def test_header(self):
        data = subtree.serialize_subtree("1", "1", "0000")
        assert data[:4] == b"subt"
        assert int.from_bytes(data[4:8], "little") == 1


class TestBuildSubtrees:
    def test_fixture_tree(self, spark):
        from i3dm_export_spark.config import ExportOptions
        from i3dm_export_spark.operators import extent, tiling
        from i3dm_export_spark.sources.pages import synthesize_pages

        pdf = synthesize_pages(2500, scenario="A")
        bounds = extent.derive_root_bounds(
            pdf["lon"].min(), pdf["lat"].min(), pdf["lon"].max(), pdf["lat"].max(), 0, 0
        )
        opts = ExportOptions(max_features_per_tile=100, max_level=12)
        tree = tiling.build_tile_tree(spark.createDataFrame(pdf), bounds, opts)
        tiles_pdf = tiling.collect_tiles(tree)

        subs = subtree.build_subtrees_pandas(tiles_pdf, subtree_levels=2)
        assert (0, 0, 0) in subs
        # every subtree root beyond level 0 must be a recorded non-empty tile
        recorded = {
            (int(r.level), int(r.x), int(r.y)): int(r.n_instances)
            for r in tiles_pdf.itertuples()
        }
        for (lvl, x, y) in subs:
            if lvl == 0:
                continue
            assert recorded.get((lvl, x, y), 0) > 0
        # root subtree binary is well-formed
        tile_b, content_b, child_b, data = subs[(0, 0, 0)]
        j, _ = subtree.parse_subtree(data)
        assert j["buffers"][0]["byteLength"] > 0


class TestRootSubtreeContentBits:
    def test_content_bits_match_tree(self, spark):
        from i3dm_export_spark.config import ExportOptions
        from i3dm_export_spark.operators import extent, tiling
        from i3dm_export_spark.sources.pages import synthesize_pages

        pdf = synthesize_pages(2500, scenario="A")
        bounds = extent.derive_root_bounds(
            pdf["lon"].min(), pdf["lat"].min(), pdf["lon"].max(), pdf["lat"].max(), 0, 0
        )
        opts = ExportOptions(max_features_per_tile=100, max_level=12)
        tree = tiling.build_tile_tree(spark.createDataFrame(pdf), bounds, opts)
        tiles_pdf = tiling.collect_tiles(tree)
        s = 2
        subs = subtree.build_subtrees_pandas(tiles_pdf, subtree_levels=s)
        content_tiles = {
            (int(r.level), int(r.x), int(r.y))
            for r in tiles_pdf.itertuples() if r.content_available
        }
        # reconstruct content tiles from the bitstreams; must round-trip
        from i3dm_export_spark.functions.cells import morton_decode

        rebuilt = set()
        for (rl, rx, ry), (tile_b, content_b, child_b, _) in subs.items():
            for ll in range(s):
                offset = (4**ll - 1) // 3
                for m in range(4**ll):
                    if content_b[offset + m] == "1":
                        lx, ly = morton_decode(np.array([m]))
                        rebuilt.add((rl + ll, (rx << ll) + int(lx[0]), (ry << ll) + int(ly[0])))
        assert rebuilt == content_tiles


class TestDistributedSubtrees:
    """T4 scale path: executor-side assembly must be bit-identical to the
    driver-pandas twin (VERDICT r1 item 2)."""

    def _tree(self, spark):
        from i3dm_export_spark.config import ExportOptions
        from i3dm_export_spark.operators import extent, tiling
        from i3dm_export_spark.sources.pages import synthesize_pages

        pdf = synthesize_pages(2500, scenario="A")
        bounds = extent.derive_root_bounds(
            pdf["lon"].min(), pdf["lat"].min(), pdf["lon"].max(), pdf["lat"].max(), 0, 0
        )
        opts = ExportOptions(max_features_per_tile=100, max_level=12)
        return tiling.build_tile_tree(spark.createDataFrame(pdf), bounds, opts)

    def test_parity_with_pandas(self, spark):
        from i3dm_export_spark.operators import tiling

        tree = self._tree(spark)
        tiles_pdf = tiling.collect_tiles(tree)
        for s in (2, 3):
            subs_p = subtree.build_subtrees_pandas(tiles_pdf, subtree_levels=s)
            rows = subtree.build_subtrees_spark(tree.tiles, subtree_levels=s).collect()
            subs_s = {
                (r.root_level, r.root_x, r.root_y):
                    (r.tile_bits, r.content_bits, r.child_bits, bytes(r.payload))
                for r in rows
            }
            assert set(subs_s) == set(subs_p)
            for k, (tb, cb, chb, data) in subs_p.items():
                assert subs_s[k] == (tb, cb, chb, data)

    def test_for_roots_matches_full_pandas_build(self, spark):
        """build_subtrees_pandas_for_roots (the append's driver fast path)
        must return byte-identical payloads to the full pandas build for
        any requested subset, and skip requested roots that record no
        content — the same existence rule as the full build."""
        from i3dm_export_spark.operators import tiling

        tree = self._tree(spark)
        tiles_pdf = tiling.collect_tiles(tree)
        for s in (2, 3):
            full = subtree.build_subtrees_pandas(tiles_pdf, subtree_levels=s)
            keys = sorted(full)
            subset = set(keys[::2])
            # also request a root that cannot exist (deep empty corner)
            ghost = (keys[-1][0], keys[-1][1] + 10_000, keys[-1][2] + 10_000)
            got = subtree.build_subtrees_pandas_for_roots(
                tiles_pdf, subset | {ghost}, subtree_levels=s
            )
            assert {(rl, rx, ry) for rl, rx, ry, _p in got} == subset
            for rl, rx, ry, payload in got:
                assert payload == full[(rl, rx, ry)][3]

    def test_groups_are_tile_bounded(self, spark):
        # the shuffle key is the subtree root; a group holds at most the
        # subtree's interior slots + child-root slots, never instances
        tree = self._tree(spark)
        s = 2
        pairs = subtree.subtree_tile_pairs(tree.tiles, s)
        from pyspark.sql import functions as F

        mx = (
            pairs.groupBy("root_level", "root_x", "root_y")
            .count().agg(F.max("count")).collect()[0][0]
        )
        assert mx <= (4 ** s - 1) // 3 + 4 ** s


class TestMultiMillionTiles:
    def test_full_tree_level10(self, spark):
        """T4 'done' criterion (VERDICT r1 item 2): a multi-million-tile
        synthetic tree assembles distributedly with the closed-form file
        count — the regime the driver-pandas path cannot reach."""
        from pyspark.sql import functions as F

        s = 2
        max_level = 10
        parts = []
        for lvl in range(max_level + 1):
            side = 1 << lvl
            parts.append(
                spark.range(side * side).select(
                    F.lit(lvl).alias("level"),
                    (F.col("id") % side).alias("x"),
                    (F.col("id") / side).cast("long").alias("y"),
                    F.lit(True).alias("content_available"),
                    F.lit(1).cast("long").alias("n_instances"),
                )
            )
        tiles = parts[0]
        for p in parts[1:]:
            tiles = tiles.unionByName(p)
        n_tiles = (4 ** (max_level + 1) - 1) // 3
        assert tiles.count() == n_tiles  # 1,398,101 tiles

        subs = subtree.build_subtrees_spark(tiles, subtree_levels=s).persist()
        # every tile on a root level heads a content-bearing subtree
        expected_files = sum(4 ** l for l in range(0, max_level + 1, s))
        assert subs.count() == expected_files  # 1,118,481 files

        root = subs.filter(
            "root_level = 0 and root_x = 0 and root_y = 0"
        ).collect()[0]
        assert root["tile_bits"] == "1" * 5
        assert root["content_bits"] == "1" * 5
        assert root["child_bits"] == "1" * 16


class TestDeepSubtreeLevels:
    def test_parity_at_s4(self, spark):
        """subtree_levels=4 (85 interior + 256 child slots) parity between
        the distributed and pandas assemblers on a real tree."""
        from i3dm_export_spark.config import ExportOptions
        from i3dm_export_spark.operators import extent, tiling
        from i3dm_export_spark.sources.pages import synthesize_pages

        pdf = synthesize_pages(2500, scenario="A")
        bounds = extent.derive_root_bounds(
            pdf["lon"].min(), pdf["lat"].min(), pdf["lon"].max(), pdf["lat"].max(), 0, 0
        )
        opts = ExportOptions(max_features_per_tile=100, max_level=12)
        tree = tiling.build_tile_tree(spark.createDataFrame(pdf), bounds, opts)
        tiles_pdf = tiling.collect_tiles(tree)
        subs_p = subtree.build_subtrees_pandas(tiles_pdf, subtree_levels=4)
        rows = subtree.build_subtrees_spark(tree.tiles, subtree_levels=4).collect()
        subs_s = {
            (r.root_level, r.root_x, r.root_y):
                (r.tile_bits, r.content_bits, r.child_bits, bytes(r.payload))
            for r in rows
        }
        assert subs_s == {k: (v[0], v[1], v[2], v[3]) for k, v in subs_p.items()}
        assert len(subs_s) >= 1


class TestDriverKernelAtScale:
    def test_thousand_roots_parity(self, spark):
        """The one-sort driver kernel against the per-root reference
        (build_subtrees_pandas) and the Spark twin on a tree of > 1,000
        subtree roots, with empty tiles and content-less interiors mixed
        in, at two subtree depths."""
        rng = np.random.default_rng(7)
        parts = []
        for lvl, n in ((0, 1), (1, 4), (2, 16), (3, 64), (4, 256),
                       (5, 1024), (6, 1500)):
            side = 1 << lvl
            idx = rng.choice(side * side, n, replace=False)
            parts.append(pd.DataFrame({
                "level": np.full(n, lvl, np.int32),
                "x": (idx % side).astype(np.int64),
                "y": (idx // side).astype(np.int64),
                "available": True,
                "content_available": rng.random(n) < 0.6,
                "n_instances": np.where(rng.random(n) < 0.85,
                                        rng.integers(1, 500, n), 0),
            }))
        tiles_pdf = pd.concat(parts, ignore_index=True)
        tiles = spark.createDataFrame(tiles_pdf)
        for s in (2, 3):
            got = subtree.build_subtrees_pandas_for_roots(
                tiles_pdf, None, subtree_levels=s)
            ref = subtree.build_subtrees_pandas(tiles_pdf, subtree_levels=s)
            spk = {
                (r.root_level, r.root_x, r.root_y): bytes(r.payload)
                for r in subtree.build_subtrees_spark(
                    tiles, subtree_levels=s).collect()
            }
            keys = [(rl, rx, ry) for rl, rx, ry, _p in got]
            assert keys == sorted(ref) == sorted(spk)
            assert len(keys) == subtree.n_subtree_roots(tiles_pdf, s)
            for rl, rx, ry, payload in got:
                assert payload == ref[(rl, rx, ry)][3]
                assert payload == spk[(rl, rx, ry)]
        assert len(subtree.build_subtrees_pandas_for_roots(
            tiles_pdf, None, subtree_levels=2)) > 1000


class TestTilesetLevels:
    def test_one_number_rule_on_random_skewed_trees(self, tmp_path):
        """tileset.json's levels from the tile table's max level L alone
        (``pipeline.tileset_levels``, read off the parquet footers) agree
        with the two rules it replaced on random skewed trees: the
        append's (2nd distinct root level of the tiles with content) and
        the export's (2nd distinct root level of the subtree files
        written), for subtree depths 1-4 with clustering on and off."""
        import pyarrow as pa

        from i3dm_export_spark.operators import tiling
        from i3dm_export_spark.plans import checkpoint
        from i3dm_export_spark.plans.pipeline import tileset_levels

        rng = np.random.default_rng(11)
        path = str(tmp_path / "tiles")
        for i in range(240):
            s = int(rng.integers(1, 5))
            clustering = bool(i % 2)
            deep = int(rng.integers(1, 9))
            side = 1 << deep
            n = int(rng.integers(1, 400))
            # skew: most points in one small corner cluster
            hot = rng.random(n) < rng.random()
            xs = np.where(hot, rng.integers(0, max(side // 8, 1), n),
                          rng.integers(0, side, n))
            ys = np.where(hot, rng.integers(0, max(side // 8, 1), n),
                          rng.integers(0, side, n))
            cells, cnt = np.unique(np.stack([xs, ys], 1), axis=0,
                                   return_counts=True)
            tiles = tiling.descend_counts_pandas(
                cells[:, 0], cells[:, 1], cnt, deep,
                int(rng.integers(1, 60)), clustering,
                int(rng.integers(1, deep + 1)),
            )
            lv = tiles.loc[tiles["n_instances"] > 0, "level"].to_numpy(np.int64)
            rls = np.unique(lv - lv % s)[:2]
            append_rule = int(rls[1]) if len(rls) > 1 else 2
            written = np.unique([rl for rl, _x, _y, _p in
                                 subtree.build_subtrees_pandas_for_roots(
                                     tiles, None, s)])[:2]
            export_rule = int(written[1]) if len(written) > 1 else 2
            checkpoint.write_driver_table(
                path, pa.Table.from_pandas(tiles, preserve_index=False))
            assert tileset_levels(path, s) == (
                int(tiles["level"].max()) + 1, append_rule), (i, s)
            assert export_rule == append_rule, (i, s)
