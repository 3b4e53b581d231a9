"""Stage 2/3: quadtree build + leaf assignment (T1/T2/A1, J1).

The reference descends depth-first, issuing one COUNT per visited node and
one instance fetch per produced tile against PostGIS — O(nodes) round trips
(src/ImplicitTiling.cs:33-113). The Spark-first redesign (SURVEY.md §3.2):

* **one shuffle over instances total** for the whole tree: every instance
  gets its deep-level cell key (pure projection, T1 closed form), then one
  ``groupBy(x_deep, y_deep).count()``;
* counts at every shallower level are **roll-ups of cell counts** (tiny
  DataFrames, one cheap shuffle per level on cells-not-instances);
* the split decision (T2) cascades top-down over the per-level count
  DataFrames — children of split parents left-join the next level's counts
  so empty children are recorded unavailable, exactly like the reference's
  count==0 branch (src/ImplicitTiling.cs:39-44);
* leaf assignment (J1) is an equi-join of instances against content-tile
  keys computed on the point side — no spatial join operator needed for the
  rectangular quadtree (SURVEY.md §2.3).

At 10^12 rows nothing here requires a driver-side materialization of
instances; the per-level tile tables stay DataFrames until `collect_tiles`
(which the sandbox uses for subtree/tileset emission, bounded by tile count
not instance count).

The same steps have numpy kernels over Arrow rows held in one process
(:func:`cell_counts`, :func:`match_keys`, :func:`assign_rows`): the
append's driver plans and the export's one-task plan call them, bit for
bit the keys and matches of the Spark expressions above.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..config import Bounds, ExportOptions
from ..functions import cells

TILE_SCHEMA_COLS = ("level", "x", "y", "available", "content_available", "n_instances")
#: the stage-2 tile table's and deep-cell count table's rows
TILES_DDL = ("level int, x bigint, y bigint, available boolean, "
             "content_available boolean, n_instances bigint")
CELL_COUNTS_DDL = "cell_x bigint, cell_y bigint, cnt bigint"


def with_cell_keys(
    df: DataFrame, bounds: Bounds, level: int, lon="lon", lat="lat",
    x_col="cell_x", y_col="cell_y",
) -> DataFrame:
    """T1 closed form as JVM-side column expressions (no UDF): the quadtree
    cell at ``level`` inside the root bbox; y grows north from ymin
    (reference src/ImplicitTiling.cs:81-88)."""
    n = 1 << level
    fx = (F.col(lon) - F.lit(bounds.xmin)) / F.lit(bounds.xmax - bounds.xmin) * n
    fy = (F.col(lat) - F.lit(bounds.ymin)) / F.lit(bounds.ymax - bounds.ymin) * n
    cx = F.least(F.greatest(F.floor(fx), F.lit(0)), F.lit(n - 1)).cast("bigint")
    cy = F.least(F.greatest(F.floor(fy), F.lit(0)), F.lit(n - 1)).cast("bigint")
    return df.withColumn(x_col, cx).withColumn(y_col, cy)


@dataclass
class TileTree:
    """Result of the stage-2 build."""

    tiles: DataFrame          # (level, x, y, available, content_available, n_instances)
    deep_level: int           # level of the instance cell keys used
    bounds: Bounds
    #: the MATERIALIZED deep-cell counts (cell_x, cell_y, cnt) the build
    #: consumed — persisting them beside the tile table makes the next
    #: incremental append's tree a counts MERGE (O(cells)) instead of a
    #: fresh corpus groupBy (O(instances)); see plans/incremental.
    deep_counts_df: DataFrame | None = None
    #: driver-resident pandas copy of ``tiles`` when the build took the
    #: driver fast path — lets consumers (assignment, tile diffs) derive
    #: content levels / counts without extra Spark jobs. None on the
    #: distributed path (cells > driver threshold).
    tiles_pdf: object | None = None


def deep_counts(df: DataFrame, bounds: Bounds, deep_level: int, query: str = "") -> DataFrame:
    """A1: ONE shuffle over instances -> (cell_x, cell_y, cnt) at deep_level.

    This replaces the reference's per-node COUNT queries
    (src/ImplicitTiling.cs:37 + src/InstancesRepository.cs:13-30) with a
    single map-side-combined hash aggregation over all tiles at once.
    """
    if query:
        df = df.filter(F.expr(query))  # P2 passthrough
    return (
        with_cell_keys(df, bounds, deep_level)
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def rollup_counts(counts: DataFrame) -> DataFrame:
    """Counts one level up: children (2x+dx, 2y+dy) sum into (x, y).

    Exact by construction: the closed-form key at level L equals the level
    L+1 key right-shifted by one (power-of-two scaling is exact in IEEE754;
    proven in tests/test_cells.py against the recursive-midpoint oracle).
    """
    return (
        counts.groupBy(
            (F.col("cell_x") / 2).cast("bigint").alias("cell_x"),
            (F.col("cell_y") / 2).cast("bigint").alias("cell_y"),
        ).agg(F.sum("cnt").alias("cnt"))
    )


#: largest deep-cell table the tree descends on the driver
#: (:func:`tree_from_counts`), for the export and the append alike; beyond
#: it the distributed descent runs, and an append takes its Spark plan for
#: every later tile-granularity step. Read at call time.
_MAX_DRIVER_CELLS = 4_000_000


def build_tile_tree(
    instances: DataFrame,
    bounds: Bounds,
    opts: ExportOptions,
    deep_level: int | None = None,
    n_estimate: int | None = None,
) -> TileTree:
    """Stage 2: the full availability tree as a DataFrame.

    T2 decision table (reference src/ImplicitTiling.cs:33-113):
      cnt == 0                      -> recorded unavailable, no descent
      cnt >  max & clustering       -> available + content, AND descend
      cnt >  max & !clustering      -> recorded unavailable interior, descend
      0 < cnt <= max                -> leaf: available + content
    Engine deviation (documented): descent is bounded by opts.max_level;
    an over-full cell at max_level becomes a forced content leaf (the
    reference recursion is unbounded and would not terminate on >max
    coincident points).

    ``deep_level`` (the resolution of the single instance shuffle) defaults
    to an estimate from the row count — log4(n/max_features) + 3 levels of
    skew slack — and the build retries deeper if any non-final level still
    holds an over-full forced leaf, so skewed data never silently loses
    resolution while uniform data avoids paying for a needlessly deep
    roll-up chain. :func:`tree_from_counts` picks the descent's side.
    """
    if deep_level is not None:
        return _build_tile_tree_at(instances, bounds, opts, deep_level)
    n = n_estimate if n_estimate is not None else instances.count()
    return adaptive_tree(
        lambda level: _build_tile_tree_at(instances, bounds, opts, level),
        n, opts)


def adaptive_tree(build_at, n: int, opts: ExportOptions) -> TileTree:
    """:func:`build_tile_tree`'s deep-level loop over ``build_at(level)``,
    a function building the tree from deep-cell counts at ``level``, for
    ``n`` input rows: start at the row estimate, and retry 4 levels deeper
    while a non-final level holds an over-full forced leaf. The Spark
    plan and the export's one-task plan (which counts with
    :func:`cell_counts` and descends with :func:`tree_from_counts_pandas`)
    share it, so both pick the same deep level. An abandoned tree's Spark
    tile table is unpersisted."""
    import math

    est = math.ceil(math.log(max(n / max(opts.max_features_per_tile, 1), 1), 4))
    deep_level = min(max(est + 3, 2), opts.max_level)
    while True:
        tree = build_at(deep_level)
        if deep_level >= opts.max_level or not _has_overfull_leaf(
                tree, deep_level, opts.max_features_per_tile):
            return tree
        if tree.tiles is not None:
            tree.tiles.unpersist()
        deep_level = min(deep_level + 4, opts.max_level)


def _has_overfull_leaf(tree: TileTree, level: int, max_features: int) -> bool:
    """Whether ``level`` holds a forced content leaf over the feature cap
    (the build must retry deeper) — read off the driver-resident tile
    table when the build made one, else one short Spark job."""
    t = tree.tiles_pdf
    if t is not None:
        return bool(((t["level"] == level) & t["content_available"]
                     & (t["n_instances"] > max_features)).any())
    overflow = tree.tiles.filter(
        (F.col("level") == level)
        & F.col("content_available")
        & (F.col("n_instances") > max_features)
    )
    return overflow.limit(1).count() > 0


def descend_counts_pandas(
    xs, ys, cnts, deep_level: int, max_features: int, clustering: bool,
    floor_level: int,
):
    """Driver-side T2 descent over collected deep-cell counts (numpy).

    Produces exactly the same rows as the distributed per-level path —
    asserted by tests/test_tiling.py::TestDriverDescentParity. Used when
    the number of non-empty deep cells is small enough to collect (the
    common case below ~millions of cells); the distributed path remains
    for 10^12-row inputs whose cell tables exceed driver memory.
    """
    import numpy as np
    import pandas as pd

    xs = np.asarray(xs, np.int64)
    ys = np.asarray(ys, np.int64)
    cnts = np.asarray(cnts, np.int64)

    # roll-ups: counts per level from deep to 0 (packed key -> cnt)
    counts_by_level: dict[int, dict] = {}
    cur_x, cur_y, cur_c = xs, ys, cnts
    counts_by_level[deep_level] = (cur_x, cur_y, cur_c)
    for lvl in range(deep_level - 1, -1, -1):
        key = ((cur_x >> 1) << np.int64(32)) | (cur_y >> 1)
        uniq, inv = np.unique(key, return_inverse=True)
        summed = np.bincount(inv, weights=cur_c).astype(np.int64)
        cur_x = (uniq >> np.int64(32)).astype(np.int64)
        cur_y = (uniq & np.int64(0xFFFFFFFF)).astype(np.int64)
        cur_c = summed
        counts_by_level[lvl] = (cur_x, cur_y, cur_c)

    lookup = {
        lvl: dict(zip(((x << np.int64(32)) | y).tolist(), c.tolist()))
        for lvl, (x, y, c) in counts_by_level.items()
    }

    rows = {"level": [], "x": [], "y": [], "available": [],
            "content_available": [], "n_instances": []}

    def emit(lvl, x, y, cnt):
        is_floor = lvl >= floor_level
        split = cnt > max_features and not is_floor
        content = (0 < cnt <= max_features) or (split and clustering) or (
            cnt > max_features and is_floor
        )
        rows["level"].append(lvl)
        rows["x"].append(x)
        rows["y"].append(y)
        rows["available"].append(content)
        rows["content_available"].append(content)
        rows["n_instances"].append(cnt)
        return split

    root_cnt = int(cnts.sum())
    frontier = [(0, 0)] if emit(0, 0, 0, root_cnt) else []
    for lvl in range(1, deep_level + 1):
        nxt = []
        lut = lookup[lvl]
        for px, py in frontier:
            for dx in (0, 1):
                for dy in (0, 1):
                    cx, cy = px * 2 + dx, py * 2 + dy
                    cnt = lut.get((cx << 32) | cy, 0)
                    if emit(lvl, cx, cy, cnt):
                        nxt.append((cx, cy))
        frontier = nxt
        if not frontier:
            break

    pdf = pd.DataFrame(rows)
    pdf["level"] = pdf["level"].astype("int32")
    return pdf


def _build_tile_tree_at(
    instances: DataFrame, bounds: Bounds, opts: ExportOptions, deep_level: int,
) -> TileTree:
    deep_df = deep_counts(instances, bounds, deep_level, opts.query)
    return tree_from_counts(deep_df, bounds, opts, deep_level)


def tree_from_counts(
    deep_df: DataFrame, bounds: Bounds, opts: ExportOptions, deep_level: int,
) -> TileTree:
    """T2 descent over an already-computed deep-cell count table
    (``cell_x, cell_y, cnt`` at ``deep_level``): the whole stage-2 compute
    once counts exist. The counts are collected once, capped at
    ``_MAX_DRIVER_CELLS + 1`` rows. If at most the budget came back, the
    driver descends over exactly those rows
    (:func:`tree_from_counts_pandas`, parity-tested in
    tests/test_tiling.py); one row more means the table is too big for the
    driver, and the distributed descent recomputes it. The append, which
    already knows which side its merged counts sit on, calls the two
    descents directly."""
    pdf = deep_df.limit(_MAX_DRIVER_CELLS + 1).toPandas()
    if len(pdf) <= _MAX_DRIVER_CELLS:
        return tree_from_counts_pandas(deep_df.sparkSession, pdf, bounds,
                                       opts, deep_level)
    return _descend_distributed(deep_df, bounds, opts, deep_level)


def tree_from_counts_pandas(
    spark, pdf, bounds: Bounds, opts: ExportOptions, deep_level: int,
) -> TileTree:
    """Driver-side twin of :func:`tree_from_counts` over a pandas counts
    frame (columns cell_x, cell_y, cnt) — zero Spark jobs beyond the
    createDataFrames; the append calls it when its merged counts are
    already on the driver. ``spark`` None builds no Spark frame at all
    (``tiles`` and ``deep_counts_df`` are None), for a caller that reads
    only ``tiles_pdf``."""
    floor_level = min(opts.max_level, deep_level)
    tiles_pdf = descend_counts_pandas(
        pdf["cell_x"], pdf["cell_y"], pdf["cnt"], deep_level,
        opts.max_features_per_tile, opts.use_clustering, floor_level,
    )
    if spark is None:
        return TileTree(tiles=None, deep_level=deep_level, bounds=bounds,
                        tiles_pdf=tiles_pdf)
    tiles = spark.createDataFrame(tiles_pdf, schema=TILES_DDL)
    counts_df = spark.createDataFrame(pdf, schema=CELL_COUNTS_DDL)
    return TileTree(tiles=tiles, deep_level=deep_level, bounds=bounds,
                    deep_counts_df=counts_df, tiles_pdf=tiles_pdf)


def _descend_distributed(
    deep_df: DataFrame, bounds: Bounds, opts: ExportOptions, deep_level: int
) -> TileTree:
    spark = deep_df.sparkSession

    # ONE shuffle over instances (already inside deep_df's lineage);
    # localCheckpoint cuts the lineage so the iterative per-level plans
    # below stay O(1) for the optimizer (without this, each level's plan
    # nests all previous levels and Catalyst re-optimization blows up
    # exponentially with depth).
    deep = deep_df.localCheckpoint()

    # roll up counts level by level: counts[L] for L = deep_level .. 0
    # (each a tiny cells-not-instances aggregation, materialized eagerly)
    counts_by_level: dict[int, DataFrame] = {deep_level: deep}
    cur = deep
    for lvl in range(deep_level - 1, -1, -1):
        cur = rollup_counts(cur).localCheckpoint()
        counts_by_level[lvl] = cur

    max_feat = opts.max_features_per_tile
    clustering = opts.use_clustering
    floor_level = min(opts.max_level, deep_level)

    def decide(cells: DataFrame, lvl: int) -> DataFrame:
        is_leaf_level = lvl >= floor_level
        split = (F.col("cnt") > max_feat) & F.lit(not is_leaf_level)
        forced_leaf = (F.col("cnt") > max_feat) & F.lit(is_leaf_level)
        content = (
            ((F.col("cnt") > 0) & (F.col("cnt") <= max_feat))
            | (split & F.lit(clustering))
            | forced_leaf
        )
        available = content
        return cells.select(
            F.lit(lvl).alias("level"),
            F.col("cell_x").alias("x"),
            F.col("cell_y").alias("y"),
            available.alias("available"),
            content.alias("content_available"),
            F.col("cnt").alias("n_instances"),
            split.alias("_split"),
        )

    # level 0: the root always exists
    root_cells = counts_by_level[0]
    level_tiles = [decide(root_cells, 0)]
    frontier = level_tiles[0].filter("_split").select("x", "y")

    quads = spark.range(4).select(
        (F.col("id") % 2).alias("dx"), (F.col("id") / 2).cast("bigint").alias("dy")
    )
    for lvl in range(1, deep_level + 1):
        # children of split parents (4 each), left-join counts so empty
        # children are recorded with cnt=0 (reference :39-44)
        children = frontier.crossJoin(F.broadcast(quads)).select(
            (F.col("x") * 2 + F.col("dx")).alias("cell_x"),
            (F.col("y") * 2 + F.col("dy")).alias("cell_y"),
        )
        cells = (
            children.join(counts_by_level[lvl], ["cell_x", "cell_y"], "left")
            .fillna(0, subset=["cnt"])
        )
        tiles_lvl = decide(cells, lvl).localCheckpoint()
        level_tiles.append(tiles_lvl)
        frontier = tiles_lvl.filter("_split").select("x", "y")
        if frontier.limit(1).count() == 0:
            break

    tiles = level_tiles[0]
    for t in level_tiles[1:]:
        tiles = tiles.unionByName(t)
    # persisted: its consumers re-read it; the caller that is done with the
    # tree unpersists it
    tiles = tiles.drop("_split").persist()
    return TileTree(tiles=tiles, deep_level=deep_level, bounds=bounds,
                    deep_counts_df=deep)


def assign_to_content_tiles(
    instances: DataFrame, tree: TileTree, opts: ExportOptions
) -> DataFrame:
    """Stage 3 (J1): instance -> content tile(s) equi-join.

    Each instance is exploded to its ancestor keys only for the levels that
    actually hold content (typically a narrow band), then inner-joined with
    the content-tile table on (level, x, y). With clustering off every
    instance matches exactly one leaf; with clustering on it additionally
    matches every over-full content ancestor — the same instance multiset
    the reference fetches per clustered tile (src/ImplicitTiling.cs:53).

    One shuffle; the content-tile side is broadcast when small. Hot cells
    are bounded downstream by the k-means reduction; AQE skew-join is the
    backstop (session.py).
    """
    if opts.query:
        instances = instances.filter(F.expr(opts.query))
    return match_content_tiles(
        with_cell_keys(instances, tree.bounds, tree.deep_level), tree
    )


def match_content_tiles(cells: DataFrame, tree: TileTree) -> DataFrame:
    """Rows keyed by their deep cell (``cell_x, cell_y`` at
    ``tree.deep_level``) -> one row per content tile that is an
    ancestor-or-self of that cell, keyed (level, x, y); the cell columns
    are dropped. The join behind :func:`assign_to_content_tiles`; the
    append also runs it over a batch's deep-cell counts to find the
    content tiles the batch enters."""
    spark = cells.sparkSession
    if tree.tiles_pdf is not None:
        # driver-resident tree: derive levels / count / the broadcast side
        # without any Spark job (the append's delta path calls this with a
        # tiny reassignment set — collect-jobs would dominate its wall)
        cpdf = tree.tiles_pdf.loc[
            tree.tiles_pdf.content_available, ["level", "x", "y"]
        ]
        levels = sorted(int(v) for v in cpdf["level"].unique())
        if not levels:
            return spark.createDataFrame([], schema="level int")
        n_content = len(cpdf)
        content = spark.createDataFrame(
            cpdf, schema="level int, x bigint, y bigint"
        )
    else:
        content = tree.tiles.filter("content_available").select(
            "level", "x", "y"
        )
        levels = sorted(
            r["level"] for r in content.select("level").distinct().collect()
        )
        if not levels:
            return spark.createDataFrame([], schema="level int")
        n_content = content.count()
    # broadcast only while the tile table is small; at 10^12-instance scale
    # (~10^9 content tiles) fall back to a shuffle join and let AQE plan it
    content_side = F.broadcast(content) if n_content <= 2_000_000 else content

    # ancestor key per content level: right-shift of the deep key
    pairs = [
        F.struct(
            F.lit(lvl).alias("level"),
            F.shiftright(F.col("cell_x"), tree.deep_level - lvl).alias("x"),
            F.shiftright(F.col("cell_y"), tree.deep_level - lvl).alias("y"),
        )
        for lvl in levels
    ]
    exploded = (
        cells.withColumn("_cand", F.explode(F.array(*pairs)))
        .withColumn("level", F.col("_cand.level"))
        .withColumn("x", F.col("_cand.x"))
        .withColumn("y", F.col("_cand.y"))
        .drop("_cand", "cell_x", "cell_y")
    )
    return exploded.join(content_side, ["level", "x", "y"], "inner")


def cell_counts(rows, bounds: Bounds, deep_level: int):
    """Kernel twin of :func:`deep_counts` over ``rows`` (an Arrow table
    with lon, lat, already filtered by ``opts.query``): its (cell_x,
    cell_y, cnt) at ``deep_level`` as pandas, keyed by ``cells.tile_xy``."""
    import pandas as pd

    cx, cy = cells.tile_xy(rows.column("lon"), rows.column("lat"),
                           deep_level, bounds.bbox)
    return (pd.DataFrame({"cell_x": cx, "cell_y": cy})
            .groupby(["cell_x", "cell_y"], as_index=False).size()
            .rename(columns={"size": "cnt"}))


def packed_by_level(level, x, y) -> dict[int, np.ndarray]:
    """Tile keys as level -> packed ``(x << 32) | y`` array."""
    level = np.asarray(level, np.int64)
    packed = (np.asarray(x, np.int64) << 32) | np.asarray(y, np.int64)
    return {int(lv): packed[level == lv] for lv in np.unique(level)}


def content_keys(tiles_pdf) -> dict[int, np.ndarray]:
    """The content tiles of a tile table, as :func:`packed_by_level`."""
    content = tiles_pdf.loc[tiles_pdf["content_available"]]
    return packed_by_level(content["level"], content["x"], content["y"])


def match_keys(cx, cy, cell_level: int, keys: dict[int, np.ndarray]):
    """The numpy row matcher: rows keyed by their cell ``(cx, cy)`` at
    ``cell_level`` -> one match per row and per level L of ``keys``
    (:func:`packed_by_level`) whose ancestor-or-self key at L is in the
    set: one right shift per level, then a packed-key ``np.isin``.
    Returns (row, level, x, y) arrays, grouped by level. Over the content
    tiles it is the twin of :func:`match_content_tiles`; the append also
    runs it over its flipped tiles."""
    cx = np.asarray(cx, np.int64)
    cy = np.asarray(cy, np.int64)
    parts = []
    for lv, packed in sorted(keys.items()):
        kx, ky = cx >> (cell_level - lv), cy >> (cell_level - lv)
        rows = np.flatnonzero(np.isin((kx << 32) | ky, packed))
        parts.append((rows, np.full(len(rows), lv), kx[rows], ky[rows]))
    if not parts:
        return (np.empty(0, np.int64),) * 4
    return tuple(np.concatenate(c) for c in zip(*parts))


def assign_rows(rows, tree: TileTree):
    """Kernel twin of :func:`assign_to_content_tiles` over ``rows`` (an
    Arrow table of instance columns that already passed ``opts.query``)
    and a tree with ``tiles_pdf``: one row per content tile over each
    row's deep cell (:func:`match_keys`), with its level (int32), x and y
    (int64) appended. The caller casts to the stage-3 schema it writes."""
    import pyarrow as pa

    cx, cy = cells.tile_xy(rows.column("lon"), rows.column("lat"),
                           tree.deep_level, tree.bounds.bbox)
    idx, lv, x, y = match_keys(cx, cy, tree.deep_level,
                               content_keys(tree.tiles_pdf))
    out = rows.take(pa.array(idx))
    for name, values, typ in (("level", lv, pa.int32()), ("x", x, pa.int64()),
                              ("y", y, pa.int64())):
        out = out.append_column(name, pa.array(values, typ))
    return out


def collect_tiles(tree: TileTree):
    """Driver-side tile list for subtree/tileset emission. Bounded by the
    number of tiles (2,345 content tiles for 588k instances in the
    reference bench, README.md:179), not by instance count."""
    return (
        tree.tiles.orderBy("level", "x", "y")
        .toPandas()
    )
