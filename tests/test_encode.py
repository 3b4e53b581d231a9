"""EP4 encoder golden tests (batch table, i3dm/cmpt round-trip, tileset)."""

import json

import numpy as np
import pandas as pd
import pytest

from i3dm_export_spark.operators import encode


class TestBatchTableJson:
    def test_golden_exact_string(self):
        # reference tests/TileHandlerTests.cs:735-754 golden:
        # {"id":["123"],"name":["test"]}
        tags = ['[{"id":"123"},{"name":"test"}]']
        assert encode.batch_table_json(tags) == '{"id":["123"],"name":["test"]}'

    def test_schema_from_first_instance(self):
        # reference src/TileHandler.cs:186-189 / README.md:224-225
        tags = [
            '[{"a":"1"}]',
            '[{"a":"2"},{"b":"x"}]',  # b is NOT in the first row -> dropped
        ]
        assert encode.batch_table_json(tags) == '{"a":["1","2"]}'

    def test_html_encoding(self):
        # reference src/TinyJson.cs:26 HtmlEncode on every value
        tags = ['[{"n":"a<b & \\"c\\""}]']
        assert (
            encode.batch_table_json(tags)
            == '{"n":["a&lt;b &amp; &quot;c&quot;"]}'
        )

    def test_none_tags(self):
        assert encode.batch_table_json([None, None]) is None
        assert encode.batch_table_json([]) is None

    def test_numeric_values_stringified(self):
        # README.md:218-227: [{"customer":"John Doe"},{"id":5454577}]
        tags = ['[{"customer":"John Doe"},{"id":5454577}]']
        assert (
            encode.batch_table_json(tags)
            == '{"customer":["John Doe"],"id":["5454577"]}'
        )


class TestI3dmRoundTrip:
    def _encode_simple(self, **kw):
        pos = np.array([[1.0, 2.0, 0.0], [10.0, 20.0, 0.0]])
        rel = pos - pos[0]
        return encode.write_i3dm(
            rel.astype(np.float32),
            rtc_center=pos[0],
            scales=np.array([50.0, 50.0], np.float32),
            normal_ups=np.tile(np.array([0, 1, 0], np.float32), (2, 1)),
            normal_rights=np.tile(np.array([1, 0, 0], np.float32), (2, 1)),
            **kw,
        )

    def test_header_and_feature_table(self):
        data = self._encode_simple()
        ft, ft_bin, bt, payload = encode.parse_i3dm(data)
        assert ft["INSTANCES_LENGTH"] == 2
        # RTC center = first position (reference src/TileHandler.cs:185,
        # golden tests/TileHandlerTests.cs:716-719)
        assert ft["RTC_CENTER"] == [1.0, 2.0, 0.0]
        pos = np.frombuffer(
            ft_bin[ft["POSITION"]["byteOffset"] : ft["POSITION"]["byteOffset"] + 24],
            np.float32,
        ).reshape(2, 3)
        np.testing.assert_array_equal(pos[0], [0, 0, 0])
        np.testing.assert_array_equal(pos[1], [9, 18, 0])
        assert len(data) % 8 == 0 or payload  # glb tail not padded per spec
        assert payload[:4] == b"glTF"

    def test_batch_table_embedded_and_padded(self):
        data = self._encode_simple(batch_json='{"id":["123"],"name":["test"]}')
        ft, _, bt, _ = encode.parse_i3dm(data)
        assert bt == {"id": ["123"], "name": ["test"]}
        # 8-byte space padding (reference golden length 32 for the 30-char
        # string, tests/TileHandlerTests.cs:753)
        btj_len = len(json.dumps(bt, separators=(",", ":")))  # 30
        assert btj_len == 30

    def test_external_uri_format0(self):
        data = self._encode_simple(external_uri="tree.glb")
        ft, _, _, payload = encode.parse_i3dm(data)
        assert payload == b"tree.glb"
        fmt = int.from_bytes(data[28:32], "little")
        assert fmt == 0


class TestCmpt:
    def test_wraps_one_i3dm_per_model(self):
        pdf = pd.DataFrame(
            {
                "url": [f"u{i}" for i in range(4)],
                "x_ecef": [1.0, 2.0, 3.0, 4.0],
                "y_ecef": [1.0, 2.0, 3.0, 4.0],
                "z_ecef": [0.0, 0.0, 0.0, 0.0],
                "scale": [50.0] * 4,
                "yaw": [0.0] * 4,
                "pitch": [0.0] * 4,
                "roll": [0.0] * 4,
                "model": ["a.glb", "b.glb", "a.glb", "b.glb"],
                "tags": [None] * 4,
            }
        )
        data = encode.encode_tile_pdf(pdf, keep_projection=False)
        tiles = encode.parse_cmpt(data)
        assert len(tiles) == 2  # A3: distinct models
        ft0, _, _, _ = encode.parse_i3dm(tiles[0])
        assert ft0["INSTANCES_LENGTH"] == 2

    def test_use_i3dm_single_tile_first_model(self):
        pdf = pd.DataFrame(
            {
                "url": ["u0", "u1"],
                "x_ecef": [1.0, 2.0],
                "y_ecef": [1.0, 2.0],
                "z_ecef": [0.0, 0.0],
                "scale": [50.0, 50.0],
                "yaw": [0.0, 0.0],
                "pitch": [0.0, 0.0],
                "roll": [0.0, 0.0],
                "model": ["a.glb", "b.glb"],
                "tags": [None, None],
            }
        )
        data = encode.encode_tile_pdf(pdf, use_i3dm=True)
        ft, _, _, _ = encode.parse_i3dm(data)
        # reference src/ImplicitTiling.cs:151: i3dm mode takes first model,
        # ALL instances included
        assert ft["INSTANCES_LENGTH"] == 2


class TestTilesetJson:
    def test_region_mode(self):
        # reference tests/KeepProjectionTests.cs:11-29
        js = json.loads(
            encode.tileset_json([1, 2, 3, 4, 5, 6], 1, 1, 1, keep_projection=False)
        )
        assert js["root"]["boundingVolume"]["region"] == [1, 2, 3, 4, 5, 6]
        assert "box" not in js["root"]["boundingVolume"]
        assert js["root"]["refine"] == "ADD"
        assert js["root"]["implicitTiling"]["subdivisionScheme"] == "QUADTREE"

    def test_box_mode_golden(self):
        # reference tests/KeepProjectionTests.cs:32-70
        js = json.loads(
            encode.tileset_json(
                [0, 0, 10, 20, 5, 15], 1, 1, 1, keep_projection=True, crs="EPSG:28992"
            )
        )
        box = js["root"]["boundingVolume"]["box"]
        assert box == [5, 10, 10, 5, 0, 0, 0, 10, 0, 0, 0, 5]
        assert "region" not in js["root"]["boundingVolume"]
        assert js["asset"]["crs"] == "EPSG:28992"

    def test_content_extension(self):
        js = json.loads(encode.tileset_json([0] * 6, 1000, 3, 2, use_i3dm=True))
        assert js["root"]["content"]["uri"].endswith(".i3dm")
        js = json.loads(encode.tileset_json([0] * 6, 1000, 3, 2))
        assert js["root"]["content"]["uri"].endswith(".cmpt")


class TestFusedEcefEncode:
    def test_fused_equals_stage1_precomputed(self, spark):
        """encode_tiles over raw lon/lat/z (fused ECEF) must produce
        byte-identical payloads to the stage1-precomputed path."""
        from i3dm_export_spark.config import Bounds, ExportOptions
        from i3dm_export_spark.operators import tiling
        from i3dm_export_spark.operators.encode import encode_tiles
        from i3dm_export_spark.plans.pipeline import stage1_encode
        from i3dm_export_spark.sources.pages import DOCS_BBOX, pages_df

        pages = pages_df(spark, 400, scenario="A")
        from i3dm_export_spark.plans.pipeline import stage0_instances

        inst = stage0_instances(pages)
        opts = ExportOptions(max_features_per_tile=100, max_level=6, use_i3dm=True)
        bounds = Bounds(*DOCS_BBOX)
        tree = tiling.build_tile_tree(inst, bounds, opts, deep_level=6)
        assigned = tiling.assign_to_content_tiles(inst, tree, opts)

        fused = {
            (r.level, r.x, r.y): bytes(r.payload)
            for r in encode_tiles(assigned, opts).collect()
        }
        pre = {
            (r.level, r.x, r.y): bytes(r.payload)
            for r in encode_tiles(stage1_encode(assigned), opts).collect()
        }
        assert fused.keys() == pre.keys() and len(fused) > 0
        assert fused == pre


class TestStage0TextlessSource:
    def test_stage0_tolerates_missing_text_column(self, spark):
        """ADVICE r4 #4: a source without a ``text`` column (legacy PostGIS
        instance table read with custom extra_cols) must not fail stage 0;
        text_fp pins to the constant xxhash64(NULL)."""
        from pyspark.sql import functions as F

        from i3dm_export_spark.plans.pipeline import stage0_instances
        from i3dm_export_spark.sources.pages import pages_df

        pages = pages_df(spark, 50, scenario="A").drop("text")
        inst = stage0_instances(pages)
        assert "text_fp" in inst.columns
        fps = [r[0] for r in inst.select("text_fp").distinct().collect()]
        expected = spark.range(1).select(
            F.xxhash64(F.lit(None).cast("string"))
        ).first()[0]
        assert fps == [expected]
