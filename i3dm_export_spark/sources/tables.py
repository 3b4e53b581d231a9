"""Testdata/parquet table loaders (S1-S5 scan surface).

The reference reads PostGIS with per-node correlated SQL (N+1 round trips,
reference src/ImplicitTiling.cs:37,53 + src/InstancesRepository.cs:13-61);
here every scan is a columnar parquet/Iceberg read with Catalyst pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(
    spark: SparkSession, sf_dir: str, name: str, min_splits: int | None = None
) -> DataFrame:
    """Parquet scan. ``min_splits`` widens a scan whose file count /
    row-group layout yields fewer input splits than cores — the local
    testdata is one row group, so without it every pre-shuffle stage
    (hashing, UDF encode) runs on ONE core. A production 100 TB Iceberg
    table has orders of magnitude more splits than executors, so callers
    pass it only for compute-heavy per-row ops where split starvation is
    possible; the repartition round-robins raw rows once and is a no-op
    cost relative to the compute it parallelizes."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if min_splits and df.rdd.getNumPartitions() < min_splits:
        df = df.repartition(min_splits)
    return df


def schema_columns(df: DataFrame) -> set[str]:
    """S5 column introspection (reference src/InstancesRepository.cs:120-127
    reads information_schema; Spark owns the schema)."""
    return {c.lower() for c in df.columns}


def orientation_select(df: DataFrame, use_gpu_instancing: bool = False):
    """P3/P4 dynamic orientation-column selection with the legacy-rotation
    fallback (reference src/InstancesRepository.cs:142-159): yaw/pitch/roll
    if present; else non-GPU maps rotation->yaw with 0 pitch/roll; GPU mode
    raises. Returns a list of column expressions to append to a select.
    """
    from pyspark.sql import functions as F

    cols = schema_columns(df)
    if {"yaw", "pitch", "roll"} <= cols:
        return [F.col("yaw"), F.col("pitch"), F.col("roll")]
    if not use_gpu_instancing and "rotation" in cols:
        return [
            F.col("rotation").alias("yaw"),
            F.lit(0.0).alias("pitch"),
            F.lit(0.0).alias("roll"),
        ]
    mode = "GPU" if use_gpu_instancing else "non-GPU"
    raise ValueError(
        f"Missing orientation columns for {mode} mode: expected yaw/pitch/roll"
        " (or legacy 'rotation' for non-GPU)"
    )


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a DataFrame bucketed (and optionally sorted) by join key —
    the co-location recipe for repeated large-x-large joins: two tables
    bucketed by the same key with the same bucket count join WITHOUT a
    shuffle (Catalyst sees the hashed layout and drops both Exchanges).
    At 100 TB this is how the instances table and any per-key side table
    (e.g. per-url quality scores) meet repeatedly without re-shuffling
    petabytes per run. Uses the session warehouse (saveAsTable — Spark
    bucketing metadata lives in the catalog, not in bare parquet paths).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
