"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship tile-tree build on sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the training-data pipeline ops); ``oracle_sql()`` gives the
DuckDB-equivalent SQL (built in i3dm_export_spark/oracles.py). Queries with
no SQL-expressible semantics (k-means LOD reduction, ray-casting PIP on
concave polygons, LSH-bucketed ANN) ship without an oracle — the driver
records the weaker rows-only check for those.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from i3dm_export_spark import oracles
from i3dm_export_spark.config import Bounds, ExportOptions
from i3dm_export_spark.functions import text as tx
from i3dm_export_spark.operators import (
    dedup,
    extent,
    knn,
    pip,
    range_join,
    similarity,
    tiling,
)
from i3dm_export_spark.operators import ranking as _ranking
from i3dm_export_spark.sources.pages import DOCS_BBOX, INSTANCE_COLS
from i3dm_export_spark.sources.tables import load_table

_BOUNDS = Bounds(*DOCS_BBOX)
_TREE_OPTS = ExportOptions(max_features_per_tile=50, max_level=6)


def _instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic geocode of `documents` — the same SQL text the oracle
    CTE uses, run through Catalyst (sources/pages.INSTANCE_COLS)."""
    from i3dm_export_spark.packaging import ensure_shipped

    # the harness may import this module from an arbitrary cwd; any query
    # whose UDF closure references the package needs it shipped to workers
    ensure_shipped(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(f"SELECT {INSTANCE_COLS} FROM documents")


def _docs(spark, sf_dir):
    from i3dm_export_spark.packaging import ensure_shipped

    ensure_shipped(spark)
    # min_splits: the local single-row-group parquet otherwise pins every
    # pre-shuffle hash/text stage to one core (see sources/tables.py)
    return load_table(
        spark, sf_dir, "documents",
        min_splits=spark.sparkContext.defaultParallelism,
    )


def _tree(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    tree = tiling.build_tile_tree(inst, _BOUNDS, _TREE_OPTS, deep_level=6)
    return tree


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_tile_tree(spark, sf_dir):
    return _tree(spark, sf_dir).tiles.select(
        "level", "x", "y", "available", "content_available", "n_instances"
    )


def q_leaf_assignment(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    tree = tiling.build_tile_tree(inst, _BOUNDS, _TREE_OPTS, deep_level=6)
    assigned = tiling.assign_to_content_tiles(inst, tree, _TREE_OPTS)
    return assigned.select("doc_id", "level", "x", "y")


def q_tile_counts(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    keyed = tiling.with_cell_keys(inst, _BOUNDS, 5)
    return keyed.groupBy(
        F.col("cell_x").alias("x"), F.col("cell_y").alias("y")
    ).agg(F.count(F.lit(1)).alias("n"))


def q_extent(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    b = extent.compute_bounds(inst, heights=(0.0, 10.0))
    return spark.createDataFrame(
        [tuple(float(v) for v in (b.xmin, b.ymin, b.xmax, b.ymax, b.zmin, b.zmax))],
        "xmin double, ymin double, xmax double, ymax double, zmin double, zmax double",
    )


def q_count_in_box(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    return inst.filter(
        (F.col("lon") >= 34.02) & (F.col("lon") < 34.06)
        & (F.col("lat") >= 44.02) & (F.col("lat") < 44.06)
        & (F.col("lang") == "en")
    ).agg(F.count(F.lit(1)).alias("n"))


def q_instance_fetch_ecef(spark, sf_dir):
    from pyspark.sql import types as T

    from i3dm_export_spark.functions import geodesy as geo

    inst = _instances(spark, sf_dir)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("x_ecef", T.DoubleType()),
                T.StructField("y_ecef", T.DoubleType()),
                T.StructField("z_ecef", T.DoubleType()),
            ]
        )
    )
    def _ecef(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        xyz = geo.wgs84_to_ecef(lon.to_numpy(), lat.to_numpy(), 0.0)
        return pd.DataFrame(
            {
                "x_ecef": xyz[:, 0].round(2),
                "y_ecef": xyz[:, 1].round(2),
                "z_ecef": xyz[:, 2].round(2),
            }
        )

    return inst.withColumn("_e", _ecef("lon", "lat")).select(
        "doc_id", "_e.x_ecef", "_e.y_ecef", "_e.z_ecef", "scale", "model"
    )


def q_rtc_relative(spark, sf_dir):
    from pyspark.sql import Window

    inst = _instances(spark, sf_dir)
    keyed = tiling.with_cell_keys(inst, _BOUNDS, 3, x_col="x", y_col="y")
    w = (
        Window.partitionBy("x", "y")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return keyed.select(
        "doc_id", "x", "y",
        (F.col("lon") - F.first("lon").over(w)).alias("dx"),
        (F.col("lat") - F.first("lat").over(w)).alias("dy"),
    )


def q_distinct_models(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    keyed = tiling.with_cell_keys(inst, _BOUNDS, 3, x_col="x", y_col="y")
    return keyed.groupBy("x", "y").agg(
        F.countDistinct("model").alias("n_models"),
        F.min("model").alias("first_model"),
    )


def q_batch_table(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    keyed = tiling.with_cell_keys(inst, _BOUNDS, 2, x_col="x", y_col="y")
    rows = F.array_sort(F.collect_list(F.struct("doc_id", "lang")))
    langs = F.array_join(
        F.transform(rows, lambda s: F.concat(F.lit('"'), s["lang"], F.lit('"'))), ","
    )
    ids = F.array_join(
        F.transform(
            rows, lambda s: F.concat(F.lit('"'), s["doc_id"].cast("string"), F.lit('"'))
        ),
        ",",
    )
    return keyed.groupBy("x", "y").agg(
        F.concat(
            F.lit('{"lang":['), langs, F.lit('],"id":['), ids, F.lit("]}")
        ).alias("batch_json")
    )


def q_knn(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    return knn.knn_global_bruteforce(
        inst.filter("doc_id < 50"), inst.filter("doc_id < 200"), 3, id_col="doc_id"
    )


def q_pip_rect(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    grid = 4
    x0, y0, x1, y1 = DOCS_BBOX
    cw = (x1 - x0) / grid
    ch = (y1 - y0) / grid
    rects = spark.range(grid * grid).select(
        F.col("id").alias("boundary_id"),
        (F.lit(x0) + (F.col("id") % grid) * cw).alias("min_lon"),
        (F.lit(x0) + (F.col("id") % grid + 1) * cw).alias("max_lon"),
        (F.lit(y0) + F.floor(F.col("id") / grid) * ch).alias("min_lat"),
        (F.lit(y0) + (F.floor(F.col("id") / grid) + 1) * ch).alias("max_lat"),
    )
    out = pip.pip_join_rect_sql(inst, rects)
    return out.select("doc_id", "boundary_id")


def q_range_join(spark, sf_dir):
    grid, level, margin = 8, 3, 0.1
    x0, y0, x1, y1 = DOCS_BBOX
    cw, ch = (x1 - x0) / grid, (y1 - y0) / grid
    n = 1 << level
    tw, th = (x1 - x0) / n, (y1 - y0) / n
    rasters = spark.range(grid * grid).select(
        F.col("id").alias("raster_id"),
        (F.lit(x0) + (F.col("id") % grid) * cw - cw * margin).alias("min_lon"),
        (F.lit(x0) + (F.col("id") % grid + 1) * cw + cw * margin).alias("max_lon"),
        (F.lit(y0) + F.floor(F.col("id") / grid) * ch - ch * margin).alias("min_lat"),
        (F.lit(y0) + (F.floor(F.col("id") / grid) + 1) * ch + ch * margin).alias("max_lat"),
    )
    tiles = spark.range(n * n).select(
        (F.col("id") % n).alias("x"),
        F.floor(F.col("id") / n).cast("bigint").alias("y"),
        (F.lit(x0) + (F.col("id") % n) * tw).alias("min_lon"),
        (F.lit(x0) + (F.col("id") % n + 1) * tw).alias("max_lon"),
        (F.lit(y0) + F.floor(F.col("id") / n) * th).alias("min_lat"),
        (F.lit(y0) + (F.floor(F.col("id") / n) + 1) * th).alias("max_lat"),
    )
    out = range_join.extent_overlap_join_broadcast(rasters, tiles)
    return out.select("a.raster_id", "b.x", "b.y")


def q_lineitem_pricing(spark, sf_dir):
    """General hash-agg surface (TPC-H-Q1 shape) over the driver's
    lineitem table; SAME SQL text as the oracle (decimal-exact sums —
    double sums are addition-order-dependent across engines)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(oracles.q_lineitem_pricing())


def q_orders_topk_join(spark, sf_dir):
    """General join surface (TPC-H-Q3 shape): customer x orders x lineitem
    + decimal-exact revenue top-k; same SQL text as the oracle."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(oracles.q_orders_topk_join())


def _shared_sql(spark, sf_dir, tables, sql):
    """Run the oracle's exact SQL text through Catalyst — the general
    engine-inheritance surface (joins/windows/set-ops the reference lacks,
    SURVEY.md §2.5)."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(sql)


def q_region_revenue(spark, sf_dir):
    return _shared_sql(
        spark, sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
        oracles.q_region_revenue(),
    )


def q_serve_tiles_bbox(spark, sf_dir):
    """Serving path (plans/serve.tiles_in_bbox, SURVEY §2.9 M4) through a
    REAL export: build (or resume — run_export skips completed stages) a
    small export of the documents instances under /tmp, then answer the
    bbox from its sink manifest + broadcast closed-form ranges. The oracle
    recomputes the content tiles intersecting the same bbox straight from
    the decision-table tree SQL."""
    import hashlib
    import os
    import tempfile

    from i3dm_export_spark.plans.pipeline import run_export
    from i3dm_export_spark.plans.serve import tiles_in_bbox

    inst = _instances(spark, sf_dir).withColumn(
        "url", F.concat(F.lit("d"), F.col("doc_id"))
    )
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"i3dm_serve_gate_{key}")
    opts = ExportOptions(max_features_per_tile=50, max_level=6,
                         use_i3dm=True)
    run_export(inst, opts, out, bounds=_BOUNDS)
    return tiles_in_bbox(spark, out, oracles.SERVE_BBOX).select(
        "level", "x", "y"
    )


def q_events_topk_window(spark, sf_dir):
    return _shared_sql(spark, sf_dir, ("events",), oracles.q_events_topk_window())


def q_customers_without_orders(spark, sf_dir):
    return _shared_sql(
        spark, sf_dir, ("customer", "orders"), oracles.q_customers_without_orders()
    )


def q_pricing_rollup(spark, sf_dir):
    return _shared_sql(spark, sf_dir, ("lineitem",), oracles.q_pricing_rollup())


def q_pricing_cube(spark, sf_dir):
    return _shared_sql(spark, sf_dir, ("lineitem",), oracles.q_pricing_cube())


def q_events_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group: Spark `percentile` and
    DuckDB `quantile_cont` share the linear-interpolation definition."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


def q_nations_setops(spark, sf_dir):
    return _shared_sql(
        spark, sf_dir, ("nation", "customer", "supplier"),
        oracles.q_nations_setops(),
    )


def q_asof_join(spark, sf_dir):
    """Backward as-of join (operators/asof.py): each click picks up the
    latest purchase value per user at or before its timestamp; checked
    against DuckDB's native ASOF LEFT JOIN."""
    from i3dm_export_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    right = (
        ev.filter("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join_backward(left, right, on=["user_id"], value_cols=["pval"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("pval", 6).alias("pval"),
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_minhash_sigs(spark, sf_dir):
    # (b=4, r=4, shingle=9): LSH threshold ~(1/b)^(1/r) ~= 0.71 over
    # 9-char shingles.  At r=2/shingle=5 the threshold (0.5) sits below the
    # typical pairwise Jaccard of templated web text, making the candidate
    # set O(n^2) — degenerate at scale.  These parameters keep candidates
    # near-linear (297 pairs for 5k docs at sf0.1 vs 1.58M before).
    return dedup.minhash_signatures(
        _docs(spark, sf_dir), n_bands=4, rows_per_band=4, shingle_n=9
    )


def q_lsh_pairs(spark, sf_dir):
    sigs = dedup.minhash_signatures(
        _docs(spark, sf_dir), n_bands=4, rows_per_band=4, shingle_n=9
    )
    return dedup.lsh_candidate_pairs(sigs)


def q_dedup_components(spark, sf_dir):
    """Canonical-doc election: connected components (min reachable id)
    over the LSH candidate-pair graph — the step that turns pairwise
    near-dup hits into keep/drop decisions."""
    pairs = q_lsh_pairs(spark, sf_dir)
    return dedup.connected_components(pairs).select("node", "comp")


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), bits=16)


def q_ngram_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signatures(docs, n_bands=4, rows_per_band=4, shingle_n=9)
    cand = dedup.lsh_candidate_pairs(sigs)
    return dedup.ngram_jaccard_pairs(docs, cand, n=3)


def q_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings",
                     min_splits=spark.sparkContext.defaultParallelism)
    return similarity.cosine_topk_bruteforce(
        emb, emb.filter("vec_id < 10"), 5
    )


def q_text_tokens(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        tx.token_count().alias("n_tokens"),
        tx.bpe_ish_token_count().alias("n_bpe_tokens"),
    )


def q_text_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    feats = tx.quality_features()
    return docs.select(
        "doc_id",
        feats["n_chars_norm"].alias("n_chars_norm"),
        feats["n_tokens"].alias("n_tokens"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["mean_token_len"].alias("mean_token_len"),
    )


def q_text_langid(spark, sf_dir):
    """Cavnar-Trenkle character-trigram language ID over 25 embedded
    profiles (functions/text.lang_id_ngram) — n-gram explode + broadcast
    profile join + integer argmax; replaces the 4-language stopword toy
    (VERDICT r2 item 4)."""
    docs = _docs(spark, sf_dir)
    return tx.lang_id_ngram(docs)


def q_text_fingerprint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        tx.fingerprint_md5().alias("fp_md5"),
        tx.rolling_hash32().alias("fp_roll"),
    )


BM25_TERMS = ("spark", "window", "hash")


def q_bm25_rank(spark, sf_dir):
    """Okapi BM25 over `documents` for a fixed term list: per-doc tf as a
    pure array projection (no explode/shuffle), corpus stats as ONE
    broadcast scalar-agg row, literal-order float sum (hash-stable)."""
    from i3dm_export_spark.operators.ranking import bm25_rank

    return bm25_rank(_docs(spark, sf_dir), BM25_TERMS)


def q_source_stats(spark, sf_dir):
    """Per-source (per-domain) curation metrics: docs, exact-dup rate via
    the normalized-text md5 fingerprint, language spread, mean length."""
    from i3dm_export_spark.operators.ranking import source_stats

    return source_stats(_docs(spark, sf_dir))


def q_events_hourly(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events log (30-min gap)."""
    from i3dm_export_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev).select("event_id", "user_id", "session_id")


def q_stratified_sample(spark, sf_dir):
    """Seedless deterministic stratified sample: top-20 docs per lang in
    md5-of-id order (reproducible at any scale, no RNG state to ship)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .drop("rk")
    )


def q_term_freq_topk(spark, sf_dir):
    """Corpus term-frequency top-k: explode + hash agg; the shuffle moves
    O(distinct terms) thanks to map-side partial aggregation."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(50)
    )


def q_events_daily_rollup(spark, sf_dir):
    """Hypertable-style hierarchical rollup: the DAILY aggregate is
    derived from HOURLY partials (never re-reading raw rows) — the
    continuous-aggregate pattern that makes multi-resolution rollups
    O(hours) instead of O(rows) at scale. Sums go through DECIMAL so the
    two-level reduction is exactly associative; the oracle aggregates
    raw->daily directly, proving the partial reuse is lossless."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
    )
    return (
        hourly.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
    )


# ---- multimodal columns (operators/multimodal.py) -------------------------

def _media(spark, sf_dir):
    """Deterministic synthetic media blobs over `documents`: ASCII magic
    prefix by doc_id % 4 + text, utf-8 encoded (same construction as the
    oracle's media CTE, i3dm_export_spark/oracles._MEDIA_CTE)."""
    docs = _docs(spark, sf_dir)
    prefix = F.element_at(
        F.array(F.lit("GIF8"), F.lit("RIFF"), F.lit("ID3"), F.lit("")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.concat(prefix, F.col("text")), "utf-8").alias("blob"),
    )


def q_media_metadata(spark, sf_dir):
    from i3dm_export_spark.operators import multimodal as mm

    return mm.media_metadata(_media(spark, sf_dir)).select(
        "media_id", "media_bytes", "media_md5", "media_type"
    )


def q_video_frames(spark, sf_dir):
    from i3dm_export_spark.operators import multimodal as mm

    frames = mm.sample_video_frames(
        _media(spark, sf_dir), n_frames=4, id_col="media_id"
    )
    return frames.select(
        "media_id", "frame_index", F.hex("frame").alias("frame_hex")
    )


def q_resize_images(spark, sf_dir):
    from i3dm_export_spark.operators import multimodal as mm

    resized = mm.resize_images(
        _media(spark, sf_dir), 64, 64, id_col="media_id"
    )
    return resized.select("media_id", F.hex("resized").alias("resized_hex"))


def q_image_features(spark, sf_dir):
    """Decode-to-embedding seam: the stub codec's features are
    SQL-reproducible (md5-byte arithmetic), so the whole mapInPandas
    plumbing — batching, schema, per-row feature layout — is
    oracle-checked (oracles.q_image_features)."""
    from i3dm_export_spark.operators import multimodal as mm

    feats = mm.decode_image_features(
        _media(spark, sf_dir), id_col="media_id", dim=16
    )
    return feats.select("media_id", F.posexplode("features")).select(
        "media_id",
        F.col("pos").alias("feature_index"),
        F.col("col").cast("double").alias("feature"),
    )


# ---- non-SQL-expressible ops (rows-only checks) ---------------------------

def q_cluster_kmeans(spark, sf_dir):
    """The export's LOD reduce (``encode.tile_members``) per content tile,
    in ``doc_id`` order: over-full tiles keep exactly k rows."""
    from i3dm_export_spark.operators.encode import tile_members

    inst = _instances(spark, sf_dir)
    opts = ExportOptions(max_features_per_tile=50, max_level=6, use_clustering=True)
    tree_c = tiling.build_tile_tree(inst, _BOUNDS, opts, deep_level=6)
    assigned = tiling.assign_to_content_tiles(inst, tree_c, opts)

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        return tile_members(pdf, opts, order_col="doc_id")

    reduced = assigned.groupBy("level", "x", "y").applyInPandas(
        _reduce, schema=assigned.schema
    )
    return reduced.groupBy("level", "x", "y").agg(
        F.count(F.lit(1)).alias("n_reduced")
    )


def q_pip_polygon(spark, sf_dir):
    """Concave (L-shaped) polygon PIP via vectorized ray casting."""
    inst = _instances(spark, sf_dir)
    return pip.pip_join(inst, oracles.pip_polygons()).select(
        "doc_id", "boundary_id"
    )


def q_ann_exact_parity(spark, sf_dir):
    """Both ANN paths in their degenerate-exact configurations under ONE
    oracle: IVF with n_probe == n_lists probes every list and LSH with
    n_planes = 0 has a single bucket, so each reduces to exact top-k and
    the brute-force cosine oracle checks codebook assignment, bucket/list
    equi-joins, and re-rank end to end for both methods."""
    emb = load_table(spark, sf_dir, "embeddings",
                     min_splits=spark.sparkContext.defaultParallelism)
    dim = len(emb.select("embedding").first()[0])
    qs = emb.filter("vec_id < 10")
    ivf = similarity.ivf_ann(emb, qs, 5, n_lists=16, n_probe=16).withColumn(
        "method", F.lit("ivf")
    )
    lsh = similarity.lsh_bucketed_ann(
        emb, qs, 5, dim=dim, n_planes=0
    ).withColumn("method", F.lit("lsh"))
    return ivf.unionByName(lsh).select(
        "method", "query_id", "neighbor_id", "rank", "cosine"
    )


# documented recall thresholds for q_ann_recall (synthetic near-random
# embeddings cap achievable recall; measured at sf0.01: lsh(p2) 0.30,
# multiprobe(p3,t8) 0.82, ivf(l8,p6) 0.96 — thresholds leave headroom)
ANN_RECALL_THRESHOLDS = {"lsh": 0.12, "lsh_multiprobe": 0.60, "ivf": 0.80}


def q_ann_recall(spark, sf_dir):
    """Recall@k gate for the APPROXIMATE configurations (VERDICT r1 item
    4): each method's top-k is joined in-engine against the exact
    brute-force top-k; emits one row per method with recall_ok =
    (recall >= documented threshold). The oracle pins the verdicts, so a
    recall regression in any approximate path fails the hash gate."""
    emb = load_table(spark, sf_dir, "embeddings",
                     min_splits=spark.sparkContext.defaultParallelism)
    dim = len(emb.select("embedding").first()[0])
    k, n_query = 5, 10
    qs = emb.filter(f"vec_id < {n_query}")
    exact = similarity.cosine_topk_bruteforce(emb, qs, k).select(
        "query_id", "neighbor_id"
    )
    approx = None
    for name, df in [
        ("lsh", similarity.lsh_bucketed_ann(emb, qs, k, dim=dim, n_planes=2)),
        ("lsh_multiprobe", similarity.lsh_multiprobe_ann(
            emb, qs, k, dim=dim, n_planes=3, n_tables=8)),
        ("ivf", similarity.ivf_ann(emb, qs, k, n_lists=8, n_probe=6)),
    ]:
        part = df.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        approx = part if approx is None else approx.unionByName(part)

    methods = spark.createDataFrame(
        [(m, t) for m, t in ANN_RECALL_THRESHOLDS.items()],
        "method string, threshold double",
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_exact = exact.count()
    return (
        methods.join(hits, "method", "left")
        .select(
            "method",
            F.lit(k).alias("k"),
            F.lit(n_query).alias("n_queries"),
            (
                F.coalesce("n_hits", F.lit(0)) / F.lit(float(n_exact))
                >= F.col("threshold")
            ).alias("recall_ok"),
        )
    )


def q_embedding_near_dup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings",
                     min_splits=spark.sparkContext.defaultParallelism)
    dim = len(emb.select("embedding").first()[0])
    # synthetic embeddings top out at ~0.51 pairwise cosine; 0.3 exercises
    # the operator with a non-empty result. max_bucket_size exercises the
    # scale-safety cap END TO END (the oracle repeats the same HAVING
    # count <= cap); 1000 keeps every sf0.01 bucket (~125 members) live.
    return similarity.embedding_near_dup(
        emb, threshold=0.3, dim=dim, n_planes=4, max_bucket_size=1000
    )


def q_near_dup_exact(spark, sf_dir):
    """embedding_near_dup with n_planes=0: one LSH bucket = exact
    all-pairs semantics, so the whole near-dup path (signature, bucket
    self-join, cosine filter) is checked against a SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings",
                     min_splits=spark.sparkContext.defaultParallelism)
    dim = len(emb.select("embedding").first()[0])
    return similarity.embedding_near_dup(emb, threshold=0.3, dim=dim, n_planes=0)


def q_knn_per_tile(spark, sf_dir):
    inst = _instances(spark, sf_dir)
    tree = tiling.build_tile_tree(inst, _BOUNDS, _TREE_OPTS, deep_level=6)
    assigned = tiling.assign_to_content_tiles(inst, tree, _TREE_OPTS)
    return knn.knn_per_tile(assigned, k=3, id_col="doc_id")


def q_subtree_bits(spark, sf_dir):
    """T4: root-subtree availability bitstreams as rows — computed by the
    DISTRIBUTED assembler (operators/subtree.build_subtrees_spark: tile-row
    shuffle keyed by subtree root + per-group bit-pack in executors), so the
    oracle gate covers the scale path, not the driver-pandas twin."""
    from i3dm_export_spark.operators import subtree as st

    tree = _tree(spark, sf_dir)
    root = (
        st.build_subtrees_spark(tree.tiles, 2)
        .filter("root_level = 0 AND root_x = 0 AND root_y = 0")
        .collect()[0]
    )
    tb, cb, chb = root["tile_bits"], root["content_bits"], root["child_bits"]
    rows = (
        [("tile", i, int(c)) for i, c in enumerate(tb)]
        + [("content", i, int(c)) for i, c in enumerate(cb)]
        + [("child", i, int(c)) for i, c in enumerate(chb)]
    )
    return spark.createDataFrame(rows, "stream string, bit_index int, bit int")


# ---------------------------------------------------------------------------
# driver surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the stage-2 tile tree."""
    return q_tile_tree(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # tiling engine (SURVEY.md §2: S2-4, A1-A6, T1-T2, J1, P1-P2, F7, F17)
        "tile_tree": q_tile_tree,
        "leaf_assignment": q_leaf_assignment,
        "tile_counts": q_tile_counts,
        "extent": q_extent,
        "count_in_box": q_count_in_box,
        "instance_fetch_ecef": q_instance_fetch_ecef,
        "rtc_relative": q_rtc_relative,
        "distinct_models": q_distinct_models,
        "batch_table": q_batch_table,
        # spatial joins (J1 generalized: kNN, PIP, raster<->vector)
        "knn": q_knn,
        "knn_per_tile": q_knn_per_tile,
        "pip_rect": q_pip_rect,
        "pip_polygon": q_pip_polygon,
        "range_join": q_range_join,
        # training-data pipeline: dedup
        "dedup_exact": q_dedup_exact,
        "minhash_sigs": q_minhash_sigs,
        "lsh_pairs": q_lsh_pairs,
        "dedup_components": q_dedup_components,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "near_dup_exact": q_near_dup_exact,
        "embedding_near_dup": q_embedding_near_dup,
        # similarity search
        "cosine_topk": q_cosine_topk,
        "ann_exact_parity": q_ann_exact_parity,
        "ann_recall": q_ann_recall,
        # text analysis
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        # multimodal columns
        "media_metadata": q_media_metadata,
        "video_frames": q_video_frames,
        "resize_images": q_resize_images,
        "image_features": q_image_features,
        # generic agg / events
        "events_hourly": q_events_hourly,
        "events_daily_rollup": q_events_daily_rollup,
        "stratified_sample": q_stratified_sample,
        "sessionize": q_sessionize,
        "term_freq_topk": q_term_freq_topk,
        "lineitem_pricing": q_lineitem_pricing,
        # r3 swap: orders_topk_join retired (join+topk shape also covered
        # by region_revenue + events_topk_window) in favor of bm25_rank
        "bm25_rank": q_bm25_rank,
        # r5 swap (50-row cap): region_revenue retired from the GATE (its
        # multi-join agg shape stays covered by source_stats + lineitem_
        # pricing + customers_without_orders; the function remains a bench
        # leg) in favor of the serving-path row serve_tiles_bbox
        "serve_tiles_bbox": q_serve_tiles_bbox,
        "events_topk_window": q_events_topk_window,
        "customers_without_orders": q_customers_without_orders,
        # r3 swap: pricing_rollup retired (strict subset of the
        # grouping-sets surface pricing_cube keeps) for source_stats
        "source_stats": q_source_stats,
        "pricing_cube": q_pricing_cube,
        "events_percentiles": q_events_percentiles,
        "nations_setops": q_nations_setops,
        "asof_join": q_asof_join,
        "subtree_bits": q_subtree_bits,
        # counts-level oracle (the reference's own clustering criterion)
        "cluster_kmeans": q_cluster_kmeans,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tile_tree": oracles.q_tile_tree(50, 6),
        "leaf_assignment": oracles.q_leaf_assignment(50, 6),
        "tile_counts": oracles.q_tile_counts(5),
        "extent": oracles.q_extent(),
        "count_in_box": oracles.q_count_in_box(),
        "instance_fetch_ecef": oracles.q_instance_fetch_ecef(),
        "rtc_relative": oracles.q_rtc_relative(3),
        "distinct_models": oracles.q_distinct_models(3),
        "batch_table": oracles.q_batch_table(2),
        "knn": oracles.q_knn(3, 50, 200),
        "knn_per_tile": oracles.q_knn_per_tile(3, 50, 6),
        "pip_rect": oracles.q_pip_rect(4),
        "pip_polygon": oracles.q_pip_polygon(),
        "range_join": oracles.q_range_join(8, 3, 0.1),
        "dedup_exact": oracles.q_dedup_exact(),
        "minhash_sigs": oracles.q_minhash_sigs(4, 9, 4),
        "lsh_pairs": oracles.q_lsh_pairs(4, 9, 4),
        "dedup_components": oracles.q_dedup_components(4, 9, 4),
        "simhash": oracles.q_simhash(16),
        "ngram_jaccard": oracles.q_ngram_jaccard(3, 4, 9, 4),
        "cosine_topk": oracles.q_cosine_topk(5, 10),
        "text_tokens": oracles.q_text_tokens(),
        "text_quality": oracles.q_text_quality(),
        "text_langid": oracles.q_text_langid(),
        "text_fingerprint": oracles.q_text_fingerprint(),
        "media_metadata": oracles.q_media_metadata(),
        "video_frames": oracles.q_video_frames(4),
        "resize_images": oracles.q_resize_images(64, 64),
        "events_hourly": oracles.q_events_hourly(),
        "events_daily_rollup": oracles.q_events_daily_rollup(),
        "stratified_sample": oracles.q_stratified_sample(20),
        "sessionize": oracles.q_sessionize(1800),
        "term_freq_topk": oracles.q_term_freq_topk(50),
        "lineitem_pricing": oracles.q_lineitem_pricing(),
        "bm25_rank": _ranking.bm25_oracle_sql(BM25_TERMS),
        "serve_tiles_bbox": oracles.q_serve_tiles_bbox(50, 6),
        "events_topk_window": oracles.q_events_topk_window(),
        "customers_without_orders": oracles.q_customers_without_orders(),
        "source_stats": _ranking.SOURCE_STATS_ORACLE_SQL,
        "pricing_cube": oracles.q_pricing_cube(),
        "events_percentiles": oracles.q_events_percentiles(),
        "nations_setops": oracles.q_nations_setops(),
        "asof_join": oracles.q_asof_join(),
        "subtree_bits": oracles.q_subtree_bits(50, 6),
        # counts-level oracles for otherwise non-SQL-expressible ops
        "cluster_kmeans": oracles.q_cluster_counts(50, 6),
        "ann_exact_parity": oracles.q_ann_exact_parity(5, 10),
        "ann_recall": oracles.q_ann_recall(5, 10),
        "near_dup_exact": oracles.q_near_dup_exact(0.3),
        "embedding_near_dup": oracles.q_embedding_near_dup(
            0.3, 64, 4, max_bucket_size=1000
        ),
        "image_features": oracles.q_image_features(16),
    }
