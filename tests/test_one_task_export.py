"""The export's one-task plan (``pipeline._export_one_task``): a bare-scan
source within ``pipeline._MAX_TASK_EXPORT_ROWS`` rows, exported into a
fresh checkpoint root, runs in one Spark task. It must write what the
Spark plan writes (forced with the budget at 0): the same content,
subtree and tileset bytes, the same content-manifest rows, and stages 0,
2, 3 and the cell counts with the same rows, Arrow schema and footer
Spark schema; an append over it must equal one over a Spark-written
export; and an input it cannot take falls back to the Spark plan."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from i3dm_export_spark.config import Bounds, ExportOptions
from i3dm_export_spark.plans import checkpoint, pipeline
from i3dm_export_spark.sources.pages import DOCS_BBOX, pages_df
from tests.test_incremental import _model_glbs, _rich_split, _split, _tree_files

STAGES = ("stage0_instances", "stage2_tiles", "stage2_cellcounts",
          "stage3_assigned")


def _to_parquet(df, path) -> str:
    df.write.parquet(str(path))
    return str(path)


def _projected(spark, n):
    """Scenario-A pages with lon/lat in UTM zone 36N (EPSG:32636)."""
    from i3dm_export_spark.functions import crs

    pdf = pages_df(spark, n).toPandas()
    pdf["lon"], pdf["lat"] = crs.from_wgs84(
        32636, pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    return spark.createDataFrame(pdf, schema=pages_df(spark, 1).schema)


def _preprojected(spark, n):
    from i3dm_export_spark.plans.pipeline import stage0_instances

    return stage0_instances(pages_df(spark, n))


#: name -> (source builder(spark), opts, model_glbs?)
CASES = {
    # the urban shape: a 2,500-row root over skew_salt_threshold * k
    "urban_gpu_hot_root": (
        lambda s: pages_df(s, 2500, "S"),
        ExportOptions(use_clustering=True, use_gpu_instancing=True,
                      max_features_per_tile=300, max_level=6), False),
    # 16 salt buckets of the 2,500-row hot root exceed k: stage A reduces
    "clustered_stage_a": (
        lambda s: pages_df(s, 2500, "S"),
        ExportOptions(use_clustering=True, max_features_per_tile=100,
                      max_level=8, skew_salt_threshold=2.0), False),
    "cmpt_models": (lambda s: _rich_split(s, 600, 1)[2],
                    ExportOptions(max_features_per_tile=60, max_level=8),
                    True),
    "i3dm": (lambda s: pages_df(s, 900),
             ExportOptions(max_features_per_tile=60, max_level=8,
                           use_i3dm=True), False),
    "scale_non_uniform": (
        lambda s: _rich_split(s, 600, 1, snu=True)[2],
        ExportOptions(max_features_per_tile=60, max_level=8, use_i3dm=True,
                      use_scale_non_uniform=True), False),
    "keep_projection": (
        lambda s: _projected(s, 500),
        ExportOptions(max_features_per_tile=60, max_level=8, use_i3dm=True,
                      keep_projection=True, source_epsg=32636), False),
    "source_epsg": (lambda s: _projected(s, 500),
                    ExportOptions(max_features_per_tile=60, max_level=8,
                                  source_epsg=32636), False),
    "query": (lambda s: _rich_split(s, 600, 1)[2],
              ExportOptions(max_features_per_tile=60, max_level=8,
                            use_i3dm=True, query="lang = 'en'"), False),
    "preprojected": (lambda s: _preprojected(s, 700),
                     ExportOptions(max_features_per_tile=60, max_level=8,
                                   use_i3dm=True), False),
}


def _export(spark, src, opts, out, budget, monkeypatch, models=None,
            **kwargs):
    monkeypatch.setattr(pipeline, "_MAX_TASK_EXPORT_ROWS", budget)
    return pipeline.run_export(spark.read.parquet(src), opts, str(out),
                               model_glbs=models, **kwargs)


def _manifest(out, sub="content"):
    return pd.read_parquet(os.path.join(
        out, "_checkpoints", "_sink_manifests", sub)).sort_values(
        "relpath").reset_index(drop=True)


def _assert_same_stages(a, b):
    """Each stage of export ``a`` holds the rows of ``b``'s (in any
    order), with the same Arrow schema and footer Spark schema."""
    for stage in STAGES:
        da, db = (os.path.join(d, "_checkpoints", stage) for d in (a, b))
        if not os.path.isdir(db):
            assert not os.path.isdir(da)
            continue
        ta, tb = pq.read_table(da), pq.read_table(db)
        keys = [(f.name, "ascending") for f in tb.schema
                if not pa.types.is_list(f.type)]
        assert ta.sort_by(keys).equals(tb.sort_by(keys)), stage
        sa, sb = (pq.read_schema(next(checkpoint._parquet_paths(d)))
                  .remove_metadata() for d in (da, db))
        assert sa == sb, stage
        assert checkpoint._footer_schema(da) == checkpoint._footer_schema(
            db), stage


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    built = {}

    def get(name):
        if name not in built:
            built[name] = _to_parquet(CASES[name][0](spark),
                                      tmp_path_factory.mktemp("src") / name)
        return built[name]

    return get


class TestExportParity:
    @pytest.mark.parametrize("case", list(CASES))
    def test_same_bytes_and_stages_as_spark_plan(self, spark, tmp_path,
                                                 monkeypatch, sources, case):
        _build, opts, glbs = CASES[case]
        src = sources(case)
        task, full = str(tmp_path / "task"), str(tmp_path / "spark")
        s_task = _export(spark, src, opts, task, 10**9, monkeypatch,
                         _model_glbs() if glbs else None)
        s_spark = _export(spark, src, opts, full, 0, monkeypatch,
                          _model_glbs() if glbs else None)
        assert s_task["one_task"] is True and s_spark["one_task"] is False
        assert s_task["n_content_tiles"] > 1
        for k in ("n_instances", "n_tiles_recorded", "n_content_tiles",
                  "n_subtree_files", "available_levels", "subtree_levels",
                  "text_invariant_violations", "bounds"):
            assert s_task[k] == s_spark[k], k
        assert _tree_files(task) == _tree_files(full)
        assert _manifest(task).equals(_manifest(full))
        _assert_same_stages(task, full)
        if case == "preprojected":
            assert not os.path.isdir(os.path.join(task, "_checkpoints",
                                                  "stage0_instances"))
        if case == "clustered_stage_a":
            tiles = pq.read_table(os.path.join(
                task, "_checkpoints", "stage2_tiles")).to_pandas()
            n = tiles.loc[tiles["content_available"], "n_instances"]
            assert (n / opts.skew_salt_buckets
                    > opts.max_features_per_tile).any()

    def test_stage2_frame_read_only_for_executor_subtrees(
            self, spark, tmp_path, monkeypatch, sources):
        """The one-task plan reads stage 2 as a Spark frame only when its
        subtrees go to executors (subtree-write budget 0), and both
        subtree routes write the same files."""
        from i3dm_export_spark.plans import sinks

        reads, real = [], checkpoint.read_parquet

        def counting(spark_, path, *args, **kwargs):
            reads.append(os.path.basename(path.rstrip("/")))
            return real(spark_, path, *args, **kwargs)

        monkeypatch.setattr(checkpoint, "read_parquet", counting)
        _build, opts, _ = CASES["i3dm"]
        src = sources("i3dm")
        drv, ex = str(tmp_path / "driver"), str(tmp_path / "executors")
        assert _export(spark, src, opts, drv, 10**9, monkeypatch)["one_task"]
        assert reads.count("stage2_tiles") == 0
        monkeypatch.setattr(sinks, "_MAX_DRIVER_SUBTREE_WRITES", 0)
        assert _export(spark, src, opts, ex, 10**9, monkeypatch)["one_task"]
        assert reads.count("stage2_tiles") == 1
        assert _tree_files(drv) == _tree_files(ex)


BB = Bounds(*DOCS_BBOX)
APPEND_OPTS = ExportOptions(max_features_per_tile=60, max_level=8,
                            use_i3dm=True)


@pytest.fixture(scope="module")
def append_bases(spark, tmp_path_factory):
    """A 750-row base exported by each plan from one parquet source, the
    150-row batch and the from-scratch export of the union."""
    import shutil

    from _pytest.monkeypatch import MonkeyPatch

    root = tmp_path_factory.mktemp("append_bases")
    base, batch, full = _split(spark, 900, 750)
    src = _to_parquet(base, root / "src")
    out = {}
    mp = MonkeyPatch()
    try:
        for plan, budget in (("task", 10**9), ("spark", 0)):
            out[plan] = str(root / plan)
            s = _export(spark, src, APPEND_OPTS, out[plan], budget, mp,
                        bounds=BB)
            assert s["one_task"] is (plan == "task")
        out["full"] = str(root / "full")
        pipeline.run_export(full, APPEND_OPTS, out["full"], bounds=BB)
    finally:
        mp.undo()
    yield out, batch
    shutil.rmtree(root, ignore_errors=True)


class TestAppendOverOneTaskExport:
    @pytest.mark.parametrize("plan", ["driver_batch", "spark_batch",
                                      "spark"])
    def test_append_parity(self, spark, tmp_path, monkeypatch, append_bases,
                           plan):
        import shutil

        from i3dm_export_spark.operators import tiling
        from i3dm_export_spark.plans import incremental as incr

        bases, batch = append_bases
        if plan == "spark_batch":
            monkeypatch.setattr(incr, "_MAX_DRIVER_BATCH_ROWS", 0)
        if plan == "spark":
            monkeypatch.setattr(tiling, "_MAX_DRIVER_CELLS", 0)
        spark.catalog.clearCache()
        got = {}
        for base in ("task", "spark"):
            out = str(tmp_path / base)
            shutil.copytree(bases[base], out)
            got[base] = (incr.incremental_append(batch, out), out)
        (s_task, task), (s_spark, full) = got["task"], got["spark"]
        assert s_task["batch_on_driver"] is (plan == "driver_batch")
        assert s_task["n_dirty_tiles"] > 0
        assert s_task["n_stage3_rewritten_files"] > 0
        # the Spark plan's distributed tree is unpersisted once written
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert _tree_files(task) == _tree_files(full)
        assert _tree_files(task) == _tree_files(bases["full"])
        for k in ("n_dirty_tiles", "n_stage3_linked_files",
                  "n_stage3_rewritten_files"):
            assert s_task[k] == s_spark[k], k


class TestFallbacks:
    @pytest.mark.parametrize("col, value", [("lon", float("nan")),
                                            ("lat", None),
                                            ("z", float("nan"))])
    def test_null_or_nan_coordinate_takes_the_spark_plan(
            self, spark, tmp_path, monkeypatch, col, value):
        from pyspark.sql import functions as F

        pages = pages_df(spark, 400).withColumn(
            col, F.when(F.col("url") == "https://example.org/p/00000007",
                        F.lit(value).cast("double")).otherwise(F.col(col)))
        src = _to_parquet(pages, tmp_path / "src")
        opts = ExportOptions(max_features_per_tile=60, max_level=8,
                             use_i3dm=True)
        task, full = str(tmp_path / "task"), str(tmp_path / "spark")
        s_task = _export(spark, src, opts, task, 10**9, monkeypatch)
        s_spark = _export(spark, src, opts, full, 0, monkeypatch)
        assert s_task["one_task"] is False
        assert _tree_files(task) == _tree_files(full)
        assert _manifest(task).equals(_manifest(full))

    def test_resume_takes_the_spark_plan(self, spark, tmp_path,
                                         monkeypatch):
        src = _to_parquet(pages_df(spark, 500), tmp_path / "src")
        opts = ExportOptions(max_features_per_tile=60, max_level=8,
                             use_i3dm=True)
        out = str(tmp_path / "out")
        first = _export(spark, src, opts, out, 10**9, monkeypatch)
        assert first["one_task"] is True
        before = _tree_files(out)
        os.remove(os.path.join(out, "content", sorted(
            os.listdir(os.path.join(out, "content")))[0]))
        again = _export(spark, src, opts, out, 10**9, monkeypatch)
        assert again["one_task"] is False
        assert _tree_files(out) == before
        # a root with only stage 0 complete resumes on the Spark plan too
        ck = os.path.join(out, "_checkpoints")
        for stage in STAGES[1:]:
            checkpoint.CheckpointManager(spark, ck).drop(stage)
        third = _export(spark, src, opts, out, 10**9, monkeypatch)
        assert third["one_task"] is False
        assert _tree_files(out) == before


class TestBudget:
    def test_budget_counts_footer_rows(self, spark, tmp_path, monkeypatch):
        src = _to_parquet(pages_df(spark, 300), tmp_path / "src")
        opts = ExportOptions(max_features_per_tile=60, max_level=8)
        s = _export(spark, src, opts, tmp_path / "a", 300, monkeypatch)
        assert s["one_task"] is True
        s = _export(spark, src, opts, tmp_path / "b", 299, monkeypatch)
        assert s["one_task"] is False

    def test_only_bare_scans_with_content_take_it(self, spark, tmp_path,
                                                  monkeypatch):
        src = _to_parquet(pages_df(spark, 300), tmp_path / "src")
        opts = ExportOptions(max_features_per_tile=60, max_level=8)
        monkeypatch.setattr(pipeline, "_MAX_TASK_EXPORT_ROWS", 10**9)
        filtered = spark.read.parquet(src).filter("lang != 'de'")
        s = pipeline.run_export(filtered, opts, str(tmp_path / "f"))
        assert s["one_task"] is False and s["n_instances"] == 225
        s = pipeline.run_export(spark.read.parquet(src), opts,
                                str(tmp_path / "n"), write_content=False)
        assert s["one_task"] is False


def test_kernel_checks_against_stage3_read_back(spark, tmp_path,
                                                monkeypatch):
    """The one-task text invariant compares the filtered stage-0 rows
    with stage 3 as written: a writer that corrupted one fingerprint is
    caught in the same export. The kernel runs here on the driver."""
    refresh = checkpoint.refresh_dir

    def corrupt_stage3(final, rows, *args, **kwargs):
        if final.endswith("stage3_assigned"):
            fp = rows.column("text_fp").to_numpy().copy()
            fp[0] += 1
            rows = rows.set_column(rows.schema.get_field_index("text_fp"),
                                   "text_fp", pa.array(fp))
        return refresh(final, rows, *args, **kwargs)

    inst = pipeline.stage0_instances(pages_df(spark, 300))
    batches = inst.selectExpr("*", "true as _q",
                              "xxhash64(url) as _h").toArrow().to_batches()
    content = tmp_path / "content"
    content.mkdir()
    job = {
        "opts": ExportOptions(max_features_per_tile=60, max_level=8),
        "root": str(tmp_path / "ck"), "bounds": None, "data_extent": None,
        "write_stage0": True, "content_dir": str(content), "models": None,
        "text_invariant": "agg", "n_part": 2,
        "schemas": pipeline._stage_schemas(inst),
    }
    monkeypatch.setattr(checkpoint, "refresh_dir", corrupt_stage3)
    s = pipeline._task_export(batches, job)
    assert s["n_broken"] == 1 and s["n_content"] > 1
    assert np.isfinite(s["bounds"]).all()
